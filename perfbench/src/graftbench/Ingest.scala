package graftbench

import java.time.Instant
import java.util.SplittableRandom

import graft.operators.ExploraQueries
import graft.sources.Tables
import graft.streaming.StreamingViews
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The paper's ingestion path. A step lands a seeded chunk of readings
  * in the source directory, runs the streaming view builder once
  * (AvailableNow, RocksDB state, MERGE upsert into the metric-partitioned
  * store) and reads the chunk's cells back from the store with
  * `ExploraQueries.history`. The read goes to the store, not through the
  * HTTP facade, because `ExploraService` builds its own views once and
  * keeps them.
  */
final class Ingest(spark: SparkSession, cfg: Cfg, error: String => Unit) {
  import Ingest._

  private var dir: String = _
  private def src = s"$dir/src"
  def store: String = s"$dir/store"
  private def ckpt = s"$dir/ckpt"
  private var ref: Reference.View = _
  var chunks = 0

  private def conf = spark.sparkContext.hadoopConfiguration

  private def materialize(): Unit =
    StreamingViews.materializeViews(spark, src, store, Resolution, Precision, ckpt)

  /** Land the backlog and materialize it; returns the build seconds. */
  def setup(base: String): Double = {
    dir = base
    new java.io.File(s"$src/events.parquet").mkdirs()
    val backlog = Inputs.readings(new SplittableRandom(cfg.seed), 0L, BacklogReadings, Inputs.StartMs, BacklogDays * 86400000L)
    Inputs.writeReadings(conf, s"$src/events.parquet/backlog.parquet", backlog)
    val t0 = Util.now()
    materialize()
    val s = Util.msSince(t0) / 1000.0
    ref = new Reference.View(Resolution, Reference.gh6).addAll(backlog)
    chunks = 0
    s
  }

  /** Chunk `k`: readings continuing in time after the backlog. */
  private def chunk(k: Int): IndexedSeq[Inputs.Reading] =
    Inputs.readings(
      new SplittableRandom(cfg.seed * 1000003L + k + 1), BacklogReadings.toLong + k * ChunkReadings, ChunkReadings,
      Inputs.StartMs + BacklogDays * 86400000L + k * ChunkSpanMs, ChunkSpanMs)

  /** The chunk's commonest metric over every cell the chunk touched for it. */
  private def probeOf(c: Seq[Inputs.Reading]): Probe = {
    val metric = c.groupBy(_.metric).maxBy { case (m, rs) => (rs.size, m) }._1
    val cells = c.filter(_.metric == metric).map(r => Reference.gh6(Reference.sensorOf(r))).distinct.sorted
    Probe(metric, cells, Reference.trunc(c.head.tsSec, Resolution), Reference.trunc(c.last.tsSec, Resolution) + 3600)
  }

  /** Land the next chunk, materialize, probe; `span` times each part. */
  def step(span: Trace.SpanFn): Step = {
    val k = chunks; chunks += 1
    val c = chunk(k)
    val cells = c.map(r => (r.metric, Reference.gh6(Reference.sensorOf(r)), Reference.trunc(r.tsSec, Resolution))).distinct.size
    try {
      val land = span("land", "op")(Inputs.writeReadings(conf, f"$src/events.parquet/chunk-$k%05d.parquet", c))
      ref.addAll(c)
      val run = span("streaming.run", "op")(materialize())
      val p = probeOf(c)
      var plan, exec = 0.0
      var got: Seq[(String, Double)] = Nil
      var df: DataFrame = null
      val probe = span("probe", "op") {
        df = ExploraQueries.history(
          Tables.readStable(spark, store), p.metric, ExploraQueries.cellsPredicate(p.cells),
          Instant.ofEpochSecond(p.fromS), Instant.ofEpochSecond(p.toS), "sum")
        plan = span("spark.plan", "probe")(df.queryExecution.executedPlan)
        exec = span("spark.exec", "probe") { got = df.collect().toSeq.map(r => r.getLong(0).toString -> r.getDouble(1)) }
      }
      val err = Reference.compareRows(Reference.history(ref, p.metric, p.cells.toSet, p.fromS, p.toS, "sum"), got)
      err.foreach(e => error(s"chunk $k not confirmed: $e"))
      Step(err.isEmpty, land, run, probe, plan, exec, got.size, cells, Trace.scanOf(df))
    } catch {
      case e: Exception => error(s"chunk $k: $e"); Step(ok = false, 0, 0, 0, 0, 0, 0, cells, Trace.Scan(0, 0))
    }
  }

  /** Stored bytes per view row, for write amplification. */
  def bytesPerRow: Double = Util.dirBytes(store).toDouble / ref.cells.size

  private var stored: Map[(String, String, Long), (Long, Double, Double)] = Map.empty

  private def compareStore(expected: Map[(String, String, Long), (Long, Double)]): Option[String] =
    if (stored.keySet != expected.keySet)
      Some(s"stored cells differ: ${stored.keySet.diff(expected.keySet).take(3)} extra, ${expected.keySet.diff(stored.keySet).take(3)} missing")
    else expected.collectFirst {
      case (k, (cnt, sum)) if stored(k)._1 != cnt || !Reference.close(sum, stored(k)._2) || !Reference.close(sum / cnt, stored(k)._3) =>
        s"cell $k: stored ${stored(k)}, expected ($cnt, $sum)"
    }

  private def expectedStore = ref.cells.map { case (k, c) => k -> (c.cnt, c.sum) }.toMap

  /** The whole stored view against the reference over every reading landed. */
  def finalCheck(): Unit = {
    val rows = Tables.readStable(spark, store)
      .select(col("metric"), col("geo"), col("ts").cast("long"), col("cnt"), col("sum_val"), col("avg_val"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4), r.getDouble(5)))
    stored = rows.toMap
    if (stored.size != rows.size) error("final store: duplicate cells")
    compareStore(expectedStore).foreach(e => error(s"final store: $e"))
  }

  def selfCheck(): Boolean = {
    val exp = expectedStore
    val (k, (cnt, sum)) = exp.head
    compareStore(exp.updated(k, (cnt + 1, sum))).isDefined
  }
}

object Ingest {
  val Resolution = "hour"
  val Precision = 6
  val BacklogReadings = 60000
  val BacklogDays = 20
  val ChunkReadings = 1000
  val ChunkSpanMs: Long = 2 * 3600 * 1000L

  final case class Probe(metric: String, cells: Seq[String], fromS: Long, toS: Long)

  final case class Step(ok: Boolean, land: Double, run: Double, probe: Double, plan: Double, exec: Double,
      rows: Int, cellsTouched: Int, scan: Trace.Scan) {
    def total: Double = land + run + probe
  }
}
