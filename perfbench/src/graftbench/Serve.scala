package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{ExploraHttpServer, ExploraService, HistoryParams, SnapshotParams}
import graft.geo.{GeoHash, QuadKey}
import graft.sources.SensorGrid
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The paper's query path: `history` and `snapshot` GETs against
  * [[ExploraHttpServer]] over a disk view store, from a seeded pool of
  * distinct requests sent in shuffled passes, in a closed loop. The pool
  * holds the recorded load probe's request shape (an `avg` snapshot of
  * the Antwerp box at gh_precision 6 and `res=min`, whose cover exceeds
  * the 256-prefix cap and is coarsened) beside a synthetic mix of
  * smaller histories and snapshots whose ranges have no recorded source.
  */
final class Serve(spark: SparkSession, cfg: Cfg) extends Workload {
  import Serve._

  private var dir: String = _
  private var svc: ExploraService = _
  private var server: ExploraHttpServer = _
  private var port = 0
  private var readings: IndexedSeq[Inputs.Reading] = _
  private val viewBuildS = mutable.ArrayBuffer.empty[Double]

  /** The five views the request mix touches: (geo index, precision, resolution). */
  private val Views = (for (gi <- Seq("geohashing", "quadtiling"); res <- Seq("hour", "day"))
    yield (gi, if (gi == "geohashing") 6 else 14, res)) :+ (("geohashing", 6, "min"))

  def setupRound(round: Int): Unit = {
    if (dir != null) Util.deleteRecursively(new java.io.File(dir))
    dir = Util.freshDir(cfg.workdir, s"serve-$round")
    readings = Inputs.readings(new SplittableRandom(cfg.seed), 0L, Readings, Inputs.StartMs, Days * 86400000L)
    new java.io.File(s"$dir/events.parquet").mkdirs()
    Inputs.writeReadings(spark.sparkContext.hadoopConfiguration, s"$dir/events.parquet/part-0.parquet", readings)
    svc = new ExploraService(SensorGrid.readings(spark, dir), viewStore = Some(s"$dir/views"))
    viewBuildS.clear()
    // resolving a request materializes its view on first use
    Views.foreach { case (gi, p, res) =>
      val t0 = Util.now()
      svc.snapshot(SnapshotParams("view", "avg", Inputs.StartMs, Antwerp.n, Antwerp.w, Antwerp.s, Antwerp.e, p, res, gi))
      viewBuildS += Util.msSince(t0) / 1000.0
    }
  }

  // ---- requests and their expected answers ----------------------------------

  private lazy val refViews: Map[(String, String), Reference.View] = Views.map { case (gi, _, res) =>
    val key: Int => String = if (gi == "geohashing") Reference.gh6 else Reference.qk14
    (gi, res) -> new Reference.View(res, key).addAll(readings)
  }.toMap

  private lazy val pool: IndexedSeq[Req] = {
    val rng = new SplittableRandom(cfg.seed * 7919 + 1)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def r4(d: Double): Double = math.round(d * 1e4) / 1e4
    val cells = Reference.gh6.distinct
    // the mix is the same for every seed (kind, resolution, geo index,
    // aggregate, cell count); the seed picks metrics, cells, times and boxes
    val synthetic = (0 until Synthetic).map { i =>
      val metric = pick(Inputs.Metrics)
      val agg = Seq("avg", "sum", "count")(i % 3)
      val res = if ((i / 2) % 2 == 0) "hour" else "day"
      if (i % 2 == 0) {
        val geos = rng.ints(0, cells.size).distinct().limit(1 + (i / 4) % 8).toArray.toSeq.map(cells)
        val (days, span) = if (res == "hour") (27, 1 + (i / 4) % 3) else (20, 3 + (i / 4) % 8)
        val from = Inputs.StartMs + rng.nextInt(days) * 86400000L + rng.nextInt(24) * 3600000L
        History(metric, agg, geos, res, from, from + span * 86400000L)
      } else {
        val gi = if ((i / 4) % 2 == 0) "geohashing" else "quadtiling"
        val (lat, lon) = (51.17 + rng.nextDouble() * 0.13, 4.31 + rng.nextDouble() * 0.16)
        val (dLat, dLon) = (0.01 + 0.01 * ((i / 8) % 4), 0.015 + 0.015 * ((i / 8) % 4))
        val ts = Inputs.StartMs + rng.nextLong(Days * 86400000L)
        Snapshot(metric, agg, gi, if (gi == "geohashing") 6 else 14, res, ts,
          r4(lat + dLat), r4(lon - dLon), r4(lat - dLat), r4(lon + dLon))
      }
    }
    // the recorded shape; the seed picks a reading whose metric and
    // minute the request asks for, so the answer is never empty
    val recorded = (0 until Recorded).map { _ =>
      val r = readings(rng.nextInt(readings.size))
      Snapshot(r.metric, "avg", "geohashing", 6, "min", r.tsMicros / 1000, Antwerp.n, Antwerp.w, Antwerp.s, Antwerp.e)
    }
    synthetic ++ recorded
  }

  private def expected(r: Req): Seq[(String, Double)] = r match {
    case h: History =>
      Reference.history(refViews(("geohashing", h.res)), h.metric, h.geos.toSet, h.fromMs / 1000, h.toMs / 1000, h.agg)
    case s: Snapshot =>
      Reference.snapshot(refViews((s.geoIndex, s.res)), s.metric,
        Reference.coverPrefixes(s.geoIndex, s.n, s.w, s.s, s.e, s.precision), s.tsMs / 1000, s.agg)
  }

  private val mapper = new ObjectMapper()

  private def rows(body: String): Seq[(String, Double)] = {
    val data = mapper.readTree(body).get("data")
    (0 until data.size).map { i =>
      val row = data.get(i)
      row.get(0).asText -> (if (row.get(1).isNull) Double.NaN else row.get(1).asDouble)
    }
  }

  /** The first body of each request, checked against the reference; a
    * later body must equal it byte for byte.
    */
  private val verified = new ConcurrentHashMap[Int, String]()

  private def check(idx: Int, code: Int, body: String): Boolean = {
    val ok =
      if (code != 200) { error(s"request $idx: HTTP $code ${body.take(200)}"); false }
      else Option(verified.get(idx)) match {
        case Some(v) => v == body || { error(s"request $idx: body changed"); false }
        case None =>
          Reference.compareRows(expected(pool(idx)), rows(body)) match {
            case Some(err) => error(s"request $idx ${pool(idx).path}: $err"); false
            case None      => verified.put(idx, body); true
          }
      }
    record(ok)
    ok
  }

  // ---- clients ---------------------------------------------------------------

  private def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).connectTimeout(Duration.ofSeconds(10)).build()

  private def get(c: HttpClient, idx: Int): (Int, String) =
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${pool(idx).path}"))
        .timeout(Duration.ofSeconds(RequestTimeoutS)).GET().build()
      val resp = c.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode, resp.body)
    } catch { case e: Exception => (-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Seeded request order shared by all clients of a run: passes over
    * the pool, each cut into blocks of one recorded request, two
    * histories and two synthetic snapshots, shuffled within and across
    * blocks. A phase covers a fraction of a pass, and the recorded
    * requests cost more than the others; the blocks keep the mix of any
    * stretch of a few requests the same whatever the seed.
    */
  private lazy val sequence: Array[Int] = {
    val rng = new SplittableRandom(cfg.seed * 104729 + 3)
    def shuffled(xs: Seq[Int]): Array[Int] = {
      val p = xs.toArray
      for (i <- p.indices.reverse) { val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    val (hist, snap) = (0 until Synthetic).partition(i => pool(i).isInstanceOf[History])
    require(hist.size == 2 * Recorded && snap.size == 2 * Recorded, "the pool does not split into blocks")
    Array.fill(Passes)(()).flatMap { _ =>
      val (h, s, r) = (shuffled(hist), shuffled(snap), shuffled(Synthetic until PoolSize))
      r.indices.flatMap(b => shuffled(Seq(r(b), h(2 * b), h(2 * b + 1), s(2 * b), s(2 * b + 1))))
    }
  }

  /** `clients` closed-loop clients issuing `order(i)` until `stop(i, t)`;
    * returns (ok latencies in ms, wall seconds).
    */
  private def closedLoop(clients: Int, order: Int => Int, stop: (Int, Long) => Boolean): (Seq[Double], Double) = {
    val next = new AtomicInteger(0)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val t0 = Util.now()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        val c = client()
        var i = next.getAndIncrement()
        while (!stop(i, t0)) {
          val idx = order(i)
          val s = Util.now()
          val (code, body) = get(c, idx)
          val ms = Util.msSince(s)
          if (check(idx, code, body)) lat.add(ms)
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (lat.asScala.toSeq, Util.msSince(t0) / 1000.0)
  }

  private def until(seconds: Double): (Int, Long) => Boolean =
    (_, t0) => Util.msSince(t0) >= seconds * 1000

  def warmup(): Unit = {
    refViews
    server = new ExploraHttpServer(svc)
    port = server.start()
    // every distinct request is answered and verified before timing
    val (_, s) = closedLoop(cfg.nproc, i => i % PoolSize, (i, _) => i >= WarmPasses * PoolSize)
    info("warmup_s") = s
    info("pool_size") = PoolSize
    info("views_build_s") = viewBuildS.toSeq
  }

  def timed(seconds: Double): Timed = {
    val (lat, _) = closedLoop(1, i => sequence(i % sequence.length), until(seconds * (1 - CapacityShare)))
    val (capLat, capS) = closedLoop(cfg.nproc, i => sequence((i + sequence.length / 2) % sequence.length), until(seconds * CapacityShare))
    val half = lat.size / 2
    info("capacity_clients") = cfg.nproc
    info("capacity_ops") = capLat.size
    info("capacity_p50_ms") = Util.median(capLat)
    info("latency_p50_first_half_ms") = Util.median(lat.take(half))
    info("latency_p50_second_half_ms") = Util.median(lat.drop(half))
    Timed(Util.latency(lat), capLat.size / capS)
  }

  /** One client; untraced and traced operations alternate so that drift
    * affects both alike. Every operation repeats the GET's
    * work in process — resolve, plan, execute — which a traced operation
    * times to split the round trip; the overhead compares round trips.
    */
  def traced(seconds: Double, trace: Trace): Map[String, Double] = {
    val c = client()
    val untraced = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = Util.now()
    var i = 0
    while (Util.msSince(t0) < seconds * 1000) {
      val idx = sequence(i % sequence.length)
      if (i % 2 == 0) {
        val s = Util.now()
        val (code, body) = get(c, idx)
        val ms = Util.msSince(s)
        if (check(idx, code, body)) untraced += ms
        // the same in-process repeat as a traced operation, unrecorded
        val df = pool(idx).frame(svc)
        df.queryExecution.executedPlan
        df.collect()
      } else {
        trace.attach()
        ops += tracedOp(trace, ops.size, c, idx)
        trace.detach()
      }
      i += 1
    }
    def med(f: Op => Double) = Util.median(ops.map(f))
    def mean(f: Op => Double) = ops.map(f).sum / ops.size
    val snaps = ops.filter(_.coverPrefixes > 0)
    val http = ops.map(o => trace.spans.find(s => s.op == o.id && s.name == "api.http").get)
    val httpTasks = http.map(trace.tasksIn)
    Map(
      "api.roundtrip_ms" -> med(_.http),
      "api.overhead_ms" -> med(o => o.http - o.resolve - o.plan - o.exec),
      "service.resolve_ms" -> med(_.resolve),
      "geo.cover_ms" -> Util.median(snaps.map(_.cover)),
      "geo.cover_prefixes" -> snaps.map(_.coverPrefixes.toDouble).sum / snaps.size,
      "spark.plan_ms" -> med(_.plan),
      "spark.exec_ms" -> med(_.exec),
      "spark.jobs_per_op" -> http.map(trace.jobsIn).sum.toDouble / ops.size,
      "spark.tasks_per_op" -> httpTasks.map(_.size).sum.toDouble / ops.size,
      "spark.run_ms_per_op" -> httpTasks.flatten.map(_.runMs).sum / ops.size,
      "spark.cpu_ms_per_op" -> httpTasks.flatten.map(_.cpuMs).sum / ops.size,
      "spark.sched_gap_ms" -> Util.median(ops.map(o => trace.schedGap(trace.spans.find(s => s.op == o.id && s.name == "spark.exec").get))),
      "spark.shuffle_mb" -> httpTasks.flatten.map(_.shuffleBytes).sum / 1e6 / ops.size,
      "spark.spill_mb" -> httpTasks.flatten.map(_.spillBytes).sum / 1e6 / ops.size,
      "scan.files_per_op" -> ops.map(_.scan.files).sum.toDouble / ops.size,
      "scan.rows_per_row_returned" -> ops.map(_.scan.rows).sum.toDouble / math.max(1, ops.map(_.rowsReturned).sum),
      "views.build_s" -> Util.median(viewBuildS),
      "views.mb" -> Util.dirBytes(s"$dir/views") / 1e6,
      "jvm.gc_ms_per_op" -> mean(_.gcMs),
      "trace.overhead_pct" -> 100.0 * (med(_.http) - Util.median(untraced)) / Util.median(untraced))
  }

  private def tracedOp(trace: Trace, id: Int, c: HttpClient, idx: Int): Op = {
    val gc0 = Trace.gcMs()
    val r = pool(idx)
    def timedSpan[T](name: String)(body: => T): (T, Double) = {
      val s = Util.now()
      val v = trace.span(id, name)(body)
      (v, Util.msSince(s))
    }
    trace.span(id, "op", parent = "") {
      val ((code, body), http) = timedSpan("api.http")(get(c, idx))
      check(idx, code, body)
      val (prefixes, cover) = r match {
        case s: Snapshot => timedSpan("geo.cover")(s.cover().size)
        case _           => (0, 0.0)
      }
      val (df, resolve) = timedSpan("service.resolve")(r.frame(svc))
      val (_, plan) = timedSpan("spark.plan")(df.queryExecution.executedPlan)
      val (out, exec) = timedSpan("spark.exec")(df.collect())
      Op(id, http, cover, prefixes, resolve, plan, exec, out.length, Trace.scanOf(df), Trace.gcMs() - gc0)
    }
  }

  def finalCheck(): Unit =
    (0 until PoolSize).filterNot(verified.containsKey).foreach(i => error(s"request $i was never verified"))

  def selfCheck(): Boolean = {
    val idx = (0 until PoolSize).find(i => verified.containsKey(i) && expected(pool(i)).nonEmpty).get
    val exp = expected(pool(idx))
    val corrupted = exp.updated(0, exp.head._1 -> (exp.head._2 + 1.0))
    Reference.compareRows(corrupted, rows(verified.get(idx))).isDefined
  }

  def close(): Unit = {
    if (server != null) server.stop()
    if (dir != null) Util.deleteRecursively(new java.io.File(dir))
  }
}

object Serve {
  val Readings = 100000
  val Days = 30
  val Synthetic = 32
  val Recorded = 8
  val PoolSize: Int = Synthetic + Recorded
  val WarmPasses = 2
  val Passes = 2048
  val CapacityShare = 0.5
  val RequestTimeoutS = 60L

  /** The recorded load probe's box around Antwerp (N, W, S, E). */
  object Antwerp { val n = 51.31; val w = 4.31; val s = 51.17; val e = 4.50 }

  final case class Op(
      id: Int, http: Double, cover: Double, coverPrefixes: Int,
      resolve: Double, plan: Double, exec: Double, rowsReturned: Long, scan: Trace.Scan, gcMs: Double)

  sealed trait Req {
    def path: String
    def frame(svc: ExploraService): DataFrame
  }

  final case class History(metric: String, agg: String, geos: Seq[String], res: String, fromMs: Long, toMs: Long) extends Req {
    def path: String =
      s"/api/airquality/$metric/aggregate/$agg/history?geohashes=${geos.mkString(",")}&gh_precision=6&res=$res&from=$fromMs&to=$toMs"
    def frame(svc: ExploraService): DataFrame =
      svc.history(HistoryParams(metric, agg, geos, 6, resolution = Some(res), fromMs = Some(fromMs), toMs = toMs))
  }

  final case class Snapshot(
      metric: String, agg: String, geoIndex: String, precision: Int, res: String, tsMs: Long,
      n: Double, w: Double, s: Double, e: Double) extends Req {
    def path: String =
      s"/api/airquality/$metric/aggregate/$agg/snapshot?ts=$tsMs&bbox=$n,$w,$s,$e&gh_precision=$precision&res=$res&geo_index=$geoIndex"
    def frame(svc: ExploraService): DataFrame =
      svc.snapshot(SnapshotParams(metric, agg, tsMs, n, w, s, e, precision, res, geoIndex))
    def cover(): Seq[String] =
      if (geoIndex == "quadtiling") QuadKey.coverPrefixes(n, w, s, e, precision)
      else GeoHash.coverPrefixes(n, w, s, e, precision)
  }
}
