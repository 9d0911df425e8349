package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Cfg(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workdir: String,
    spansOut: String,
    nproc: Int)

/** Timed result of one untraced run. */
final case class Timed(latency: Util.Latency, opsPerS: Double)

/** One workload: built by repeated set-up rounds, warmed up, then either
  * timed or traced. Every operation it runs is checked; `attempted` and
  * `failed` count them all, warm-up included.
  */
trait Workload {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def record(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  def error(msg: String): Unit = synchronized {
    if (errors.size < 20) errors += msg
  }

  /** Build inputs and the view or index into fresh directories. The
    * last round's artifacts are the ones served.
    */
  def setupRound(round: Int): Unit
  def warmup(): Unit
  def timed(seconds: Double): Timed
  def traced(seconds: Double, trace: Trace): Map[String, Double]

  /** End-of-run checks of the whole stored state; failures go to `error`. */
  def finalCheck(): Unit

  /** Corrupt one verified expectation; true when the checker rejects it. */
  def selfCheck(): Boolean
  def close(): Unit
}

object Main {

  val SetupRounds = 3

  /** Every per-layer metric with its unit. A workload reports the ones
    * that apply to it; the others read 0 (no work in that layer).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.roundtrip_ms" -> "ms", "api.overhead_ms" -> "ms", "service.resolve_ms" -> "ms",
    "geo.cover_ms" -> "ms", "geo.cover_prefixes" -> "count",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.run_ms_per_op" -> "ms", "spark.cpu_ms_per_op" -> "ms", "spark.sched_gap_ms" -> "ms",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "scan.files_per_op" -> "count", "scan.rows_per_row_returned" -> "ratio",
    "streaming.run_ms" -> "ms", "streaming.start_ms" -> "ms", "streaming.addbatch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.latestoffset_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.walcommit_ms" -> "ms",
    "state.rows" -> "count", "state.mem_mb" -> "MB", "state.commit_ms" -> "ms",
    "sink.bytes_written_per_op" -> "bytes", "sink.files_written_per_op" -> "count", "sink.write_amp" -> "ratio",
    "probe.ms" -> "ms", "store.upsert_ms" -> "ms", "store.topk_ms" -> "ms",
    "store.buckets_touched" -> "count", "store.bytes_written" -> "bytes",
    "store.files_written" -> "count", "store.files_deleted" -> "count", "store.write_amp" -> "ratio",
    "views.build_s" -> "s", "views.mb" -> "MB", "index.build_s" -> "s",
    "jvm.gc_ms_per_op" -> "ms", "trace.overhead_pct" -> "%")

  def parse(args: Array[String]): Cfg = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Cfg(
      m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("workdir"), m.getOrElse("spans", ""), Runtime.getRuntime.availableProcessors())
  }

  def session(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.nproc}]")
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cfg.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", s"${cfg.workdir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.workdir}/warehouse")
      // the deployment settings graft's own bench session uses
      .config(graft.hadoop.NioLocalFileSystem.SparkConfKey, graft.hadoop.NioLocalFileSystem.className)
      .config(graft.hadoop.NioLocalFileSystem.SparkAbstractConfKey, graft.hadoop.NioLocalFileSystem.abstractClassName)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cfg)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val confBefore = spark.conf.getAll
    val w: Workload = cfg.workload match {
      case "serve"    => new Serve(spark, cfg)
      case "maintain" => new Maintain(spark, cfg)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val rounds = (0 until SetupRounds).map { r =>
        val t0 = Util.now()
        w.setupRound(r)
        Util.msSince(t0) / 1000.0
      }
      // the median round, so that one slow round does not decide the
      // metric; the first round, which also pays class loading and JIT
      // warm-up, is reported in info as setup_cold_s
      val setupS = sessionS + Util.median(rounds)
      w.warmup()
      val cpu0 = cpuTicks()
      val metrics: Map[String, (Double, String)] =
        if (!cfg.trace) {
          val t = w.timed(cfg.seconds)
          w.info ++= Seq("samples" -> t.latency.n, "tail_percentile" -> t.latency.tailPct)
          Map(
            "setup_s" -> (setupS, "s"),
            "p50_ms" -> (t.latency.p50, "ms"),
            "tail_ms" -> (t.latency.tail, "ms"),
            "ops_per_s" -> (t.opsPerS, "ops/s"))
        } else {
          val trace = new Trace(spark)
          val layer = w.traced(cfg.seconds, trace)
          if (cfg.spansOut.nonEmpty) trace.writeSpans(cfg.spansOut)
          w.info("self_ms") = trace.selfTimes()
          PerLayer.map { case (n, u) => n -> (layer.getOrElse(n, 0.0), u) }.toMap
        }
      val cpu1 = cpuTicks()
      // CPU time the hypervisor gave to other guests while this run measured
      w.info("cpu_steal_pct") = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)
      w.finalCheck()
      val caught = w.selfCheck()
      if (!caught) w.errors += "self-check: a corrupted expectation was not caught"
      // restore every session conf the run changed or added
      val after = spark.conf.getAll
      val leaked = after.keySet.filter(k => !confBefore.get(k).contains(after(k))).toSeq.sorted
      leaked.foreach(k => confBefore.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
      w.info ++= Seq(
        "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
        "nproc" -> cfg.nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "heap_peak_used_mb" -> heapPeakUsedMb(),
        "spark_version" -> spark.version, "session_s" -> sessionS, "setup_rounds_s" -> rounds,
        "setup_cold_s" -> (sessionS + rounds.head),
        "self_check_caught" -> caught, "confs_restored" -> leaked, "errors" -> w.errors.toSeq)
      val correct = w.failed == 0 && w.errors.isEmpty && caught
      val result = Map(
        "correct" -> correct, "attempted" -> w.attempted, "failed" -> w.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      write(s"${cfg.workdir}/info.json", Util.json(w.info))
      write(s"${cfg.workdir}/result.json", Util.json(result))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Σ over the heap's memory pools of each pool's peak use: what the
    * run asked of the heap, which the fixed heap hides from peak RSS.
    */
  private def heapPeakUsedMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1 << 20).toDouble

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros elsewhere. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.lift(7).getOrElse(0L), f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  private def write(file: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(file)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, s.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
