package graftbench

import java.util.SplittableRandom

import graft.operators.Retrieval
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The store-transaction layer. A step upserts a seeded batch of
  * re-texted and new documents into the token-bucketed BM25 index
  * (probe → marker → stats delta → swap → sidecar → manifest) and answers
  * the query panel from the stored index.
  */
final class Index(spark: SparkSession, cfg: Cfg, error: String => Unit) {
  import Index._

  private var dir: String = _
  def root: String = s"$dir/index"
  private def postings = s"$root/postings"
  private def stats = s"$root/stats"
  private var docs: DataFrame = _
  private var corpus: Reference.Corpus = _
  private var nextId = 0L
  var batches = 0
  private var lastTopK: Seq[Reference.Ranked] = Nil

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Write the corpus and build the index; returns the build seconds. */
  def setup(base: String): Double = {
    dir = base
    val rng = new SplittableRandom(cfg.seed)
    val initial = (0 until CorpusDocs).map(i => Inputs.Doc(i.toLong, Inputs.text(rng, i)))
    new java.io.File(s"$dir/corpus/documents.parquet").mkdirs()
    Inputs.writeDocs(conf, s"$dir/corpus/documents.parquet/part-0.parquet", initial)
    docs = Tables.load(spark, s"$dir/corpus", "documents")
    val t0 = Util.now()
    Retrieval.bm25IndexWrite(docs, postings, stats)
    val s = Util.msSince(t0) / 1000.0
    corpus = new Reference.Corpus
    initial.foreach(corpus.put)
    nextId = CorpusDocs.toLong
    batches = 0
    s
  }

  /** Batch `k`: re-texted documents outside the query panel, then new ones. */
  private def batch(k: Int): Seq[Inputs.Doc] = {
    val rng = new SplittableRandom(cfg.seed * 1000003L + k + 1)
    val retexted = Iterator.continually(Reference.PanelQueries + rng.nextLong(nextId - Reference.PanelQueries))
      .distinct.take(Retexted).toSeq.sorted
    (retexted ++ (nextId until nextId + New)).map(id => Inputs.Doc(id, Inputs.text(rng, id)))
  }

  private def ranked(rows: Array[Row]): Seq[Reference.Ranked] =
    rows.toSeq.map(r => Reference.Ranked(r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  /** Upsert the next batch, then answer the panel from the stored index.
    * The panel documents never change, so the original corpus frame
    * supplies the panel.
    */
  def step(span: Trace.SpanFn): Step = {
    val k = batches; batches += 1
    val b = batch(k)
    val file = f"$dir/batches/b-$k%05d.parquet"
    new java.io.File(s"$dir/batches").mkdirs()
    Inputs.writeDocs(conf, file, b)
    val postingRows = b.map(d => Reference.tokens(d.text).distinct.length.toLong).sum
    try {
      var touched = 0
      val upsert = span("store.upsert", "op") {
        touched = Retrieval.bm25IndexUpsert(spark, spark.read.schema(docs.schema).parquet(file), postings, stats).size
      }
      var plan, exec = 0.0
      var rows: Seq[Reference.Ranked] = Nil
      var df: DataFrame = null
      val topk = span("store.topk", "op") {
        df = Retrieval.bm25StoredTopK(spark, docs, postings, stats)
        plan = span("spark.plan", "store.topk")(df.queryExecution.executedPlan)
        exec = span("spark.exec", "store.topk") { rows = ranked(df.collect()) }
      }
      nextId += New
      b.foreach(corpus.put)
      lastTopK = rows
      val err = Reference.compareTopK(corpus.scores(), rows)
      err.foreach(e => error(s"batch $k: $e"))
      Step(err.isEmpty, upsert, topk, plan, exec, touched, rows.size, postingRows, Trace.scanOf(df))
    } catch {
      case e: Exception => error(s"batch $k: $e"); Step(ok = false, 0, 0, 0, 0, 0, 0, postingRows, Trace.Scan(0, 0))
    }
  }

  /** Stored bytes per posting, for write amplification. */
  def bytesPerPosting: Double = Util.dirBytes(postings).toDouble / corpus.postings

  /** The stored answer against a full in-flight BM25 recompute over the
    * current corpus, and both against the reference.
    */
  def finalCheck(): Unit = {
    val current = (0L until nextId).map(id => Inputs.Doc(id, corpus.text(id)))
    new java.io.File(s"$dir/final/documents.parquet").mkdirs()
    Inputs.writeDocs(conf, s"$dir/final/documents.parquet/part-0.parquet", current)
    val full = ranked(Retrieval.bm25TopK(Tables.load(spark, s"$dir/final", "documents")).collect())
    Reference.compareTopK(corpus.scores(), full).foreach(e => error(s"bm25TopK over the corpus: $e"))
    def scores(rs: Seq[Reference.Ranked]) = rs.map(r => (r.queryId, r.rank, r.score)).sorted
    if (scores(full) != scores(lastTopK)) error("stored top-k differs from the in-flight top-k")
  }

  def selfCheck(): Boolean = {
    val sc = corpus.scores()
    val top = lastTopK.minBy(r => (r.queryId, r.rank))
    val corrupted = sc.updated(top.queryId, sc(top.queryId).updated(top.docId, sc(top.queryId)(top.docId) + 1.0))
    Reference.compareTopK(corrupted, lastTopK).isDefined
  }
}

object Index {
  val CorpusDocs = 2000
  val Retexted = 16
  val New = 16

  final case class Step(ok: Boolean, upsert: Double, topk: Double, plan: Double, exec: Double,
      touched: Int, rows: Int, postingRows: Long, scan: Trace.Scan) {
    def total: Double = upsert + topk
  }
}
