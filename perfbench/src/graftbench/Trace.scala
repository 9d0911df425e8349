package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced mode: spans recorded around the benchmark's calls into
  * graft, plus Spark-side counts from listeners that exist only while a
  * traced operation runs. Spans stay in memory until [[writeSpans]].
  */
final class Trace(spark: SparkSession) {
  import Trace._

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the launch and finish times Spark reports.
    */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def clock(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](op: Int, name: String, parent: String = "op")(body: => T): T = {
    val s = clock()
    try body
    finally spans += Span(op, name, parent, s, clock())
  }

  // ---- listeners -----------------------------------------------------------

  val jobs = new ConcurrentLinkedQueue[Double]() // job start times
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val streamsStarted = new AtomicInteger(0)
  private val streamsEnded = new AtomicInteger(0)
  @volatile private var markerJob = -1
  @volatile private var markerStages = Set.empty[Int]
  @volatile private var markerDone: CountDownLatch = new CountDownLatch(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) {
        markerJob = e.jobId; markerStages = e.stageIds.toSet
      } else jobs.add(e.time.toDouble)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(
          e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = streamsEnded.incrementAndGet()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Wait until every event posted so far has been delivered, then stop
    * listening. A marker job's end arrives after every earlier event of
    * the shared queue; streaming events arrive on their own queue, so
    * those are awaited by matching query starts with terminations.
    */
  def detach(): Unit = if (attached) {
    markerDone = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    markerDone.await(10, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (streamsEnded.get < streamsStarted.get && System.nanoTime() < deadline) Thread.sleep(5)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def jobsIn(s: Span): Int = jobs.asScala.count(t => t >= s.startMs - 1 && t <= s.endMs + 1)
  def tasksIn(s: Span): Seq[TaskRec] = tasks.asScala.filter(t => t.launch >= s.startMs - 1 && t.launch <= s.endMs + 1).toSeq

  /** Span wall time not covered by any task of the span. */
  def schedGap(s: Span): Double = {
    val iv = tasksIn(s).map(t => (math.max(t.launch, s.startMs), math.min(t.finish, s.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) { if (!curS.isNaN) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) busy += curE - curS
    math.max(0.0, s.duration - busy)
  }

  /** Span duration minus the union of its direct children. */
  def selfTimes(): Map[String, Double] = {
    val byOp = spans.groupBy(_.op)
    val self = spans.map { s =>
      val kids = byOp(s.op).filter(k => k.parent == s.name && k.startMs >= s.startMs && k.endMs <= s.endMs)
      s.name -> (s.duration - kids.map(_.duration).sum)
    }
    self.groupBy(_._1).map { case (n, xs) => n -> Util.median(xs.map(_._2)) }
  }

  def writeSpans(file: String): Unit = {
    val f = new java.io.File(file)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Util.json(Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
  }
}

object Trace {
  private val MarkerKey = "graftbench.marker"

  /** Runs a named step under a parent span; returns its milliseconds. */
  type SpanFn = (String, String) => (=> Any) => Double

  val untraced: SpanFn = (_, _) => body => { val t = Util.now(); body; Util.msSince(t) }

  def spanFn(trace: Trace, op: Int): SpanFn = (name, parent) => body => {
    val t = Util.now(); trace.span(op, name, parent)(body); Util.msSince(t)
  }

  final case class Span(op: Int, name: String, parent: String, startMs: Double, endMs: Double) {
    def duration: Double = endMs - startMs
  }
  final case class TaskRec(launch: Double, finish: Double, runMs: Double, cpuMs: Double, shuffleBytes: Long, spillBytes: Long)
  final case class Scan(files: Long, rows: Long)

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec        => scansOf(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case o                        => o.children.flatMap(scansOf)
    }
    here ++ p.subqueries.flatMap(scansOf)
  }

  def scanMetric(scans: Seq[FileSourceScanExec], name: String): Long =
    scans.flatMap(_.metrics.get(name)).map(_.value).sum

  /** Files and rows read by the scan nodes of a frame's executed plan,
    * read after `collect()` has returned, when the driver has merged
    * every task's metrics into the plan.
    */
  def scanOf(df: DataFrame): Scan = {
    val scans = scansOf(df.queryExecution.executedPlan)
    Scan(scanMetric(scans, "numFiles"), scanMetric(scans, "numOutputRows"))
  }
}
