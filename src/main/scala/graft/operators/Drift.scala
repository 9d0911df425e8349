package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus drift monitoring: the Population Stability Index between a
  * reference slice ("yesterday's crawl" — the even-`vec_id` half, the
  * same convention the IVF/PQ staleness certificates use) and the
  * current slice (odd half), per embedding dimension over FIXED bins.
  *
  * PSI = Σ_c (p_c − q_c)·ln(p_c/q_c) with add-one smoothing, the
  * standard ingestion-monitoring metric (banking model-risk practice;
  * common thresholds 0.1 = investigate, 0.2 = drifted). Fixed,
  * data-independent bin edges keep the gate free of cross-engine
  * quantile semantics and make day-over-day PSIs comparable — exactly
  * what a production monitor wants (quantile edges would re-adapt to
  * the drift they are supposed to measure).
  *
  * Scale: ONE pass over (dim ≤ AuditDims)-filtered posexploded values
  * → a (dim × bin × side) count aggregate of at most AuditDims·Bins
  * rows; the full 80-cell grid is a literal frame so empty bins
  * contribute their smoothed mass on both engines identically. At
  * 100 TB this is one scan + one 2-level aggregation, state O(dims·bins).
  */
object Drift {

  /** Dimensions audited (a pinned panel keeps cost explicit; the 100 TB
    * dial — audit all 64 — only grows the aggregate to 640 cells).
    */
  val AuditDims = 8

  /** Fixed equal-width bins spanning the synthetic value range with
    * clamping headroom (corpus values measured in [−0.53, 0.46]).
    */
  val Bins = 12
  val BinLo = -0.6
  val BinHi = 0.6
  val BinW: Double = (BinHi - BinLo) / Bins

  /** PSI above this is "drifted" (the conventional 0.2 threshold). */
  val DriftThreshold = 0.2

  /** The ADDITIVE monitoring state: per-(dim, bucket) reference/current
    * counts. Additivity is the streaming contract — per-micro-batch
    * cell frames go to an epoch-keyed counter log
    * ([[graft.streaming.StreamingViews.appendLog]]) and merge by
    * summation, so a replayed batch replaces its own cells instead of
    * doubling them (the Count-Min ingest pattern), and stream == batch
    * holds exactly.
    */
  def psiCells(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .filter(col("dim") < AuditDims)
      .select(
        col("dim"),
        bucketCol(col("v").cast("double")).as("bucket"),
        (col("vec_id") % 2 === 0).as("is_ref"))
      .groupBy(col("dim"), col("bucket"))
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("r"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c"))

  /** Per-dimension PSI between the even-id reference half and the
    * odd-id current half: (dim, n_ref, n_cur, psi·6dp, drifted).
    */
  def psiEmbeddingDrift(spark: SparkSession, emb: DataFrame): DataFrame =
    psiFromCellCounts(spark, psiCells(emb))

  /** PSI report from (possibly fragmented) additive cell counts — the
    * serving half shared by the batch entry and the stream-built
    * counter log: merge by summation, fill the full grid, smooth, sum.
    */
  def psiFromCellCounts(spark: SparkSession, rawCells: DataFrame): DataFrame = {
    import spark.implicits._
    val cells = rawCells
      .groupBy(col("dim"), col("bucket"))
      .agg(sum(col("r")).as("r"), sum(col("c")).as("c"))
    val grid = (for { d <- 0 until AuditDims; b <- 0 until Bins } yield (d, b))
      .toDF("dim", "bucket")
    val filled = broadcast(grid)
      .join(cells, Seq("dim", "bucket"), "left")
      .na.fill(0L, Seq("r", "c"))
    // per-dim totals as a WINDOW over the (dims·bins)-row cell frame —
    // a groupBy-and-join-back here re-plans the whole cells subtree and
    // re-SCANS the corpus (measured: 2 parquet scans); the window keeps
    // the plan at one corpus scan + tiny-frame arithmetic
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("dim"))
    val withTotals = filled
      .withColumn("n_ref", sum(col("r")).over(w))
      .withColumn("n_cur", sum(col("c")).over(w))
    val p = (col("r") + lit(1L)) / (col("n_ref") + lit(Bins.toLong))
    val q = (col("c") + lit(1L)) / (col("n_cur") + lit(Bins.toLong))
    withTotals
      .withColumn("contrib", (p - q) * log(p / q))
      .groupBy(col("dim"), col("n_ref"), col("n_cur"))
      .agg(sum(col("contrib")).as("psi_raw"))
      .select(
        col("dim").cast("int").as("dim"),
        col("n_ref"),
        col("n_cur"),
        (round(col("psi_raw"), 6) + lit(0d)).as("psi"),
        (col("psi_raw") > lit(DriftThreshold)).as("drifted"))
      .orderBy(col("dim"))
  }

  private def bucketCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(
      greatest(floor((v - lit(BinLo)) / lit(BinW)).cast("int"), lit(0)),
      lit(Bins - 1))

  /** DuckDB twin: same fixed bins, same smoothing, same 80-cell grid. */
  def psiEmbeddingDriftSql: String = {
    val dims = (0 until AuditDims).map { d =>
      s"SELECT vec_id, $d AS dim, CAST(embedding[${d + 1}] AS DOUBLE) AS v FROM embeddings"
    }.mkString("\nUNION ALL\n")
    val gridRows = (for { d <- 0 until AuditDims; b <- 0 until Bins }
      yield s"($d, $b)").mkString(", ")
    s"""WITH x AS (
       |$dims
       |),
       |b AS (SELECT dim,
       |  LEAST(GREATEST(CAST(floor((v - ($BinLo)) / $BinW) AS INTEGER), 0), ${Bins - 1}) AS bucket,
       |  (vec_id % 2 = 0) AS is_ref
       |FROM x),
       |cnt AS (SELECT dim, bucket,
       |  sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS r,
       |  sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c
       |FROM b GROUP BY dim, bucket),
       |grid(dim, bucket) AS (SELECT * FROM (VALUES $gridRows)),
       |filled AS (SELECT g.dim, g.bucket,
       |  CAST(coalesce(cnt.r, 0) AS BIGINT) AS r,
       |  CAST(coalesce(cnt.c, 0) AS BIGINT) AS c
       |FROM grid g LEFT JOIN cnt ON g.dim = cnt.dim AND g.bucket = cnt.bucket),
       |tot AS (SELECT dim, sum(r) AS n_ref, sum(c) AS n_cur FROM filled GROUP BY dim),
       |e AS (SELECT f.dim, t.n_ref, t.n_cur,
       |  ((f.r + 1.0) / (t.n_ref + $Bins) - (f.c + 1.0) / (t.n_cur + $Bins))
       |    * ln(((f.r + 1.0) / (t.n_ref + $Bins)) / ((f.c + 1.0) / (t.n_cur + $Bins))) AS contrib
       |FROM filled f JOIN tot t ON f.dim = t.dim)
       |SELECT CAST(dim AS INTEGER) AS dim,
       |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       |  round(sum(contrib), 6) + 0 AS psi,
       |  sum(contrib) > $DriftThreshold AS drifted
       |FROM e GROUP BY dim, n_ref, n_cur ORDER BY dim""".stripMargin
  }
}
