package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Store maintenance: one operation is one cycle of both write paths —
  * a readings chunk through the streaming view builder ([[Ingest]]) and
  * a document batch through the BM25 index upsert ([[Index]]), each
  * confirmed by a read. Its latency is the time until both stores serve
  * the new data.
  */
final class Maintain(spark: SparkSession, cfg: Cfg) extends Workload {
  import Maintain._

  private val ingest = new Ingest(spark, cfg, error)
  private val index = new Index(spark, cfg, error)
  private var dir: String = _
  private val viewBuildS, indexBuildS = mutable.ArrayBuffer.empty[Double]

  def setupRound(round: Int): Unit = {
    if (dir != null) Util.deleteRecursively(new java.io.File(dir))
    dir = Util.freshDir(cfg.workdir, s"maintain-$round")
    viewBuildS += ingest.setup(s"$dir/views")
    indexBuildS += index.setup(s"$dir/text")
  }

  private def cycle(span: Trace.SpanFn): (Ingest.Step, Index.Step) = {
    val a = ingest.step(span)
    val b = index.step(span)
    record(a.ok && b.ok)
    (a, b)
  }

  def warmup(): Unit = (0 until WarmCycles).foreach(_ => cycle(Trace.untraced))

  def timed(seconds: Double): Timed = {
    val t0 = Util.now()
    val lat = mutable.ArrayBuffer.empty[Double]
    val parts = mutable.ArrayBuffer.empty[(Double, Double)]
    while (Util.msSince(t0) < seconds * 1000) {
      val (a, b) = cycle(Trace.untraced)
      if (a.ok && b.ok) { lat += a.total + b.total; parts += ((a.total, b.total)) }
    }
    val half = lat.size / 2
    info("latencies_ms") = lat.toSeq
    info("latency_p50_first_half_ms") = Util.median(lat.take(math.max(1, half)))
    info("latency_p50_second_half_ms") = Util.median(lat.drop(half))
    info("ingest_ms") = parts.map(_._1).toSeq
    info("index_ms") = parts.map(_._2).toSeq
    Timed(Util.latency(lat), lat.size / (Util.msSince(t0) / 1000.0))
  }

  /** Untraced and traced cycles alternate, so drift affects both alike. */
  def traced(seconds: Double, trace: Trace): Map[String, Double] = {
    val t0 = Util.now()
    val untraced = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    var i = 0
    while (Util.msSince(t0) < seconds * 1000 || ops.isEmpty) {
      if (i % 2 == 0) {
        val (a, b) = cycle(Trace.untraced)
        if (a.ok && b.ok) untraced += a.total + b.total
      } else {
        val id = ops.size
        val gc0 = Trace.gcMs()
        val (views0, index0) = (Util.snapshotDir(ingest.store), Util.snapshotDir(index.root))
        val seen = trace.progress.size
        trace.attach()
        val (a, b) = trace.span(id, "op", parent = "")(cycle(Trace.spanFn(trace, id)))
        trace.detach()
        ops += Op(id, a, b, trace.progress.asScala.toSeq.drop(seen).map(_.progress),
          Util.diff(views0, Util.snapshotDir(ingest.store)), Util.diff(index0, Util.snapshotDir(index.root)),
          Trace.gcMs() - gc0)
      }
      i += 1
    }
    def med(f: Op => Double) = Util.median(ops.map(f))
    def mean(f: Op => Double) = ops.map(f).sum / ops.size
    def dur(o: Op, k: String) = o.progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    def lastState(o: Op)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      o.progress.lastOption.map(_.stateOperators.map(f).sum).getOrElse(0.0)
    def spans(o: Op, name: String) = trace.spans.filter(s => s.op == o.id && s.name == name)
    val opTasks = ops.map(o => trace.tasksIn(spans(o, "op").head))
    val (rowBytes, postingBytes) = (ingest.bytesPerRow, index.bytesPerPosting)
    info("sched_gap_ms_by_span") = GraftSpans.map(n => n -> med(o => trace.schedGap(spans(o, n).head))).toMap
    Map(
      "spark.plan_ms" -> med(o => o.ing.plan + o.idx.plan),
      "spark.exec_ms" -> med(o => o.ing.exec + o.idx.exec),
      "spark.jobs_per_op" -> ops.map(o => trace.jobsIn(spans(o, "op").head)).sum.toDouble / ops.size,
      "spark.tasks_per_op" -> opTasks.map(_.size).sum.toDouble / ops.size,
      "spark.run_ms_per_op" -> opTasks.flatten.map(_.runMs).sum / ops.size,
      "spark.cpu_ms_per_op" -> opTasks.flatten.map(_.cpuMs).sum / ops.size,
      "spark.sched_gap_ms" -> med(o => GraftSpans.map(n => trace.schedGap(spans(o, n).head)).sum),
      "spark.shuffle_mb" -> opTasks.flatten.map(_.shuffleBytes).sum / 1e6 / ops.size,
      "spark.spill_mb" -> opTasks.flatten.map(_.spillBytes).sum / 1e6 / ops.size,
      "scan.files_per_op" -> ops.map(o => o.ing.scan.files + o.idx.scan.files).sum.toDouble / ops.size,
      "scan.rows_per_row_returned" ->
        ops.map(o => o.ing.scan.rows + o.idx.scan.rows).sum.toDouble / math.max(1, ops.map(o => o.ing.rows + o.idx.rows).sum),
      "streaming.run_ms" -> med(_.ing.run),
      "streaming.start_ms" -> med(o => o.ing.run - dur(o, "triggerExecution")),
      "streaming.addbatch_ms" -> med(dur(_, "addBatch")),
      "streaming.planning_ms" -> med(dur(_, "queryPlanning")),
      "streaming.latestoffset_ms" -> med(dur(_, "latestOffset")),
      "streaming.commit_ms" -> med(dur(_, "commitOffsets")),
      "streaming.walcommit_ms" -> med(dur(_, "walCommit")),
      "state.rows" -> med(lastState(_)(_.numRowsTotal.toDouble)),
      "state.mem_mb" -> med(lastState(_)(_.memoryUsedBytes / 1e6)),
      "state.commit_ms" -> med(_.progress.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum),
      "sink.bytes_written_per_op" -> mean(_.sink.bytesWritten.toDouble),
      "sink.files_written_per_op" -> mean(_.sink.filesWritten.toDouble),
      "sink.write_amp" -> mean(o => o.sink.bytesWritten / (rowBytes * o.ing.cellsTouched)),
      "probe.ms" -> med(_.ing.probe),
      "store.upsert_ms" -> med(_.idx.upsert),
      "store.topk_ms" -> med(_.idx.topk),
      "store.buckets_touched" -> mean(_.idx.touched.toDouble),
      "store.bytes_written" -> mean(_.store.bytesWritten.toDouble),
      "store.files_written" -> mean(_.store.filesWritten.toDouble),
      "store.files_deleted" -> mean(_.store.filesDeleted.toDouble),
      "store.write_amp" -> mean(o => o.store.bytesWritten / (postingBytes * o.idx.postingRows)),
      "views.build_s" -> Util.median(viewBuildS),
      "views.mb" -> Util.dirBytes(ingest.store) / 1e6,
      "index.build_s" -> Util.median(indexBuildS),
      "jvm.gc_ms_per_op" -> mean(_.gcMs),
      "trace.overhead_pct" -> 100.0 * (med(_.total) - Util.median(untraced)) / Util.median(untraced))
  }

  def finalCheck(): Unit = {
    ingest.finalCheck()
    index.finalCheck()
    info("chunks_landed") = ingest.chunks
    info("batches_upserted") = index.batches
  }

  def selfCheck(): Boolean = ingest.selfCheck() && index.selfCheck()

  def close(): Unit = if (dir != null) Util.deleteRecursively(new java.io.File(dir))
}

object Maintain {
  val WarmCycles = 1

  /** The spans that are calls into graft, as opposed to the benchmark's
    * own landing of inputs and checks against the reference.
    */
  val GraftSpans = Seq("streaming.run", "probe", "store.upsert", "store.topk")

  final case class Op(
      id: Int, ing: Ingest.Step, idx: Index.Step, progress: Seq[StreamingQueryProgress],
      sink: Util.DirDiff, store: Util.DirDiff, gcMs: Double) {
    def total: Double = ing.total + idx.total
  }
}
