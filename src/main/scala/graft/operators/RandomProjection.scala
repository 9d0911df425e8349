package graft.operators

import graft.functions.{FloatDotConstExpr, FloatDotSelfExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Johnson–Lindenstrauss random projection: embeddings mapped to a
  * [[OutDim]]-dimensional sketch through a deterministic Rademacher
  * matrix (Achlioptas 2003, "Database-friendly random projections":
  * entries ±1/√k preserve pairwise distances within (1±ε) with the
  * same guarantee as Gaussian matrices, and need no float matrix at
  * all — the projection is [[OutDim]] signed sums per row).
  *
  * Role in the serving stack (complements PQ, which compresses the
  * CODES; JL compresses the GEOMETRY): a 64-d float corpus shrinks
  * 4× into 16-d sketches on which candidate generation runs — a
  * stateless codegen map at ingest, no training, no codebooks, no
  * staleness to certify (the matrix is data-independent — the one
  * structural advantage over PQ/IVF, whose drift audits exist because
  * their geometry is learned). Production shape mirrors PQ's:
  * sketch-space top-k·mult SHORTLIST, exact re-rank of the shortlist
  * ([[projTopKRerankFor]]), recall certified against the exact scan
  * on the standard query panel every gate run.
  *
  * Determinism/parity: the matrix entries are md5-derived signs scaled
  * by 1/√[[OutDim]], computed in pure Scala and folded into BOTH
  * engines' plans as double literals; every sum is built in the same
  * left-fold association as the shared [[Similarity.Dialect]] kernels,
  * so Spark and DuckDB agree bit-for-bit before the 6-dp presentation
  * rounding.
  */
object RandomProjection {

  /** Sketch dimensionality: 64 → 16, the 4× memory dial. */
  val OutDim = 16

  private val Scale = 1.0 / math.sqrt(OutDim.toDouble)

  /** Row j of the projection matrix: 64 entries ±1/√k, sign j:i taken
    * from md5("rp:j:i") — deterministic, engine-independent, and
    * incrementally extensible (adding sketch dims never changes
    * existing ones).
    */
  val Planes: Array[Array[Double]] = Array.tabulate(OutDim) { j =>
    Array.tabulate(Similarity.Dim) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$j:$i".getBytes("UTF-8"))
      (if ((d(0) & 1) == 0) 1.0 else -1.0) * Scale
    }
  }

  /** The query vector pushed through the same matrix, driver-side. */
  def projectQuery(q: Array[Double]): Array[Double] =
    Array.tabulate(OutDim)(j =>
      q.indices.foldLeft(0.0)((a, i) => a + q(i) * Planes(j)(i)))

  // ---- Spark side -----------------------------------------------------

  private def dotConstCol(c: Column, v: Array[Double]): Column =
    Shim.column(FloatDotConstExpr(Shim.expression(c), v.toSeq))

  private def dotSelfCol(c: Column): Column =
    Shim.column(FloatDotSelfExpr(Shim.expression(c)))

  private def yName(j: Int) = f"y$j%02d"

  private def yCols: Seq[Column] =
    (0 until OutDim).map(j => dotConstCol(col("embedding"), Planes(j)).as(yName(j)))

  /** Left-fold sum in dialect association: ((0 + t₀) + t₁) + …. */
  private def chainSum(ts: Seq[Column]): Column = ts.foldLeft(lit(0d))(_ + _)

  /** Projected-space cosine to the projected query, from y columns. */
  private def projSimCol(qp: Array[Double]): Column = {
    val qn = math.sqrt(qp.foldLeft(0.0)((a, x) => a + x * x))
    val dot = chainSum((0 until OutDim).map(j => col(yName(j)) * lit(qp(j))))
    val n2 = chainSum((0 until OutDim).map(j => col(yName(j)) * col(yName(j))))
    dot / nullif(sqrt(n2) * lit(qn), lit(0d))
  }

  /** The sketches themselves for an id-bounded panel — the gate surface
    * for the projection map (every downstream ranking builds on these
    * values). One narrow codegen scan; at 100 TB this projection is the
    * ingest-time append that materializes the sketch column.
    */
  def project(embeddings: DataFrame, maxVecId: Long): DataFrame =
    embeddings
      .filter(col("vec_id") < maxVecId)
      .select(col("vec_id") +: yCols: _*)
      .select(
        col("vec_id") +:
          (0 until OutDim).map(j => round(col(yName(j)), 6).as(yName(j))): _*)
      .orderBy(col("vec_id"))

  /** Top-k by SKETCH-space cosine — the candidate generator. Rank on
    * the raw double, present rounded (shared topK convention).
    */
  /** Null handling NOTE (shared by every ranking in this file): the
    * null guard runs AFTER the limit, never before. A pre-limit
    * `filter(sim.isNotNull)` looks natural but is a plan bomb — the
    * filter condition inlines the full 16-projection expression tree,
    * and Catalyst's constraint propagation then walks that tree across
    * the downstream join (measured: 37 s of pure DRIVER time at any
    * corpus size). DESC NULLS LAST ordering admits a null only when
    * fewer than k non-null rows exist, so limit-then-filter returns
    * exactly the same min(k, n_nonnull) rows as filter-then-limit —
    * with a constant-size filter above TakeOrderedAndProject.
    */
  def projTopKFor(embeddings: DataFrame, k: Int, q: Array[Double]): DataFrame =
    embeddings
      .select(col("vec_id") +: yCols: _*)
      .withColumn("sim_raw", projSimCol(projectQuery(q)))
      .orderBy(col("sim_raw").desc_nulls_last, col("vec_id"))
      .limit(k)
      .filter(col("sim_raw").isNotNull)
      .select(col("vec_id"), round(col("sim_raw"), 6).as("sim"))

  def projTopK(embeddings: DataFrame, k: Int): DataFrame =
    projTopKFor(embeddings, k, Similarity.QueryVec)

  /** Shortlist budget of the re-ranked path, shared with PQ's serving
    * shape: sketch-space top k·mult, exact cosine polish.
    */
  val RerankShortlistMult = 16

  /** AUTO shortlist width (the autoRowsPerBand discipline applied to
    * the re-rank dial): at FIXED sketch dim the JL error is a constant
    * (~1/√[[OutDim]]) while the cosine gap between rank k and rank m
    * SHRINKS as the corpus grows, so holding recall needs the
    * shortlist to track a constant FRACTION of the corpus —
    * ceil(16% · n / k), floored at [[RerankShortlistMult]] (16% is the
    * measured knee on the panel: at that fraction rerank recall holds
    * ~640‰ across SFs instead of collapsing with n). Integer
    * arithmetic so the oracle replays the chosen width exactly. The
    * 100 TB dial is OutDim, not this fraction: O(log n) sketch growth
    * restores a corpus-size-independent shortlist, at which point the
    * rule returns its floor.
    */
  def autoRerankMult(n: Long, k: Int): Int =
    math.max(RerankShortlistMult, ((16L * n + 100L * k - 1) / (100L * k)).toInt)

  /** PRODUCTION serving path: the sketch shortlist re-ranked by TRUE
    * 64-d cosine — float vectors are read for k·mult rows only, the
    * scan runs on the 4×-smaller sketches.
    */
  def projTopKRerankFor(
      embeddings: DataFrame,
      k: Int,
      q: Array[Double],
      mult: Int = RerankShortlistMult): DataFrame = {
    // limit-then-filter: see the projTopKFor null-handling note — a
    // pre-limit null filter re-inlines the sketch tree and detonates
    // constraint propagation across the join
    val short = embeddings
      .select(col("vec_id") +: yCols: _*)
      .withColumn("sim_p", projSimCol(projectQuery(q)))
      .orderBy(col("sim_p").desc_nulls_last, col("vec_id"))
      .limit(k * mult)
      .filter(col("sim_p").isNotNull)
      .select(col("vec_id"))
    // broadcast only when the shortlist is the FIXED floor (k·16 rows,
    // corpus-size-free). An autoRerankMult shortlist is ~16% of the
    // corpus — linear in n — and an explicit broadcast hint there would
    // hit the driver/broadcast ceiling at scale; leave that side
    // unhinted so AQE picks broadcast vs shuffle from the measured size
    // (ADVICE r11).
    val shortHinted = if (mult <= RerankShortlistMult) broadcast(short) else short
    embeddings
      .join(shortHinted, Seq("vec_id"))
      .withColumn("sim_raw", Similarity.cosineToCol(col("embedding"), q))
      .orderBy(col("sim_raw").desc_nulls_last, col("vec_id"))
      .limit(k)
      .filter(col("sim_raw").isNotNull)
      .select(col("vec_id"), round(col("sim_raw"), 6).as("sim"))
  }

  // ---- recall certification -------------------------------------------

  /** Floors for the dual certificate, measured on the standard panel
    * (sketch 162–183‰, rerank 641–945‰ across sf0.001/0.01/0.1).
    * These are deliberately LOW: the synthetic corpus is JL's
    * adversarial case — i.i.d. near-uniform embeddings put the cosine
    * gap between rank 20 and rank 2000 far below the sketch's
    * ~1/√[[OutDim]] resolution, so top-k discrimination is noise-
    * limited no matter the shortlist. The floors exist to trip the
    * gate on a BROKEN sketch (sign flip, wrong scale, dropped dim
    * all land near 0‰), not to claim ranking fidelity here; the
    * structural JL guarantee — distances preserved — is what
    * [[projDistortion]] certifies, and that one is corpus-independent.
    */
  val SketchRecallFloorPermille = 100L
  val RerankRecallFloorPermille = 550L

  /** One-row dual recall@k audit over the [[Similarity.queryVec]]
    * panel: the raw sketch ranking AND the re-ranked serving path
    * against the exact 64-d scan — the [[Pq.pqDriftAudit]]
    * share-the-scan shape: ONE materialized base carries all exact
    * scores and sketch sims; the 3·panel rankings are limit-sorts over
    * it. All-integer output, engine parity exact.
    */
  def projRecall(embeddings: DataFrame, k: Int, mult: Int = RerankShortlistMult): DataFrame = {
    val qs = (0 until Similarity.PanelQueries).map(Similarity.queryVec)
    def tagged(frames: Seq[DataFrame], flag: String): DataFrame =
      frames.zipWithIndex
        .map { case (df, t) => df.select(lit(t).as("qid"), col("vec_id"), lit(1L).as(flag)) }
        .reduce(_ unionAll _)
    val base = graft.sources.Tables.addColumns(
      embeddings.select(col("vec_id") +: col("embedding") +: yCols: _*),
      qs.zipWithIndex.flatMap { case (q, t) =>
        Seq(
          s"e$t" -> Similarity.cosineToCol(col("embedding"), q),
          s"p$t" -> projSimCol(projectQuery(q)))
      }).select(col("vec_id") +:
      qs.indices.flatMap(t => Seq(col(s"e$t"), col(s"p$t"))): _*)
      .localCheckpoint(true)
    val exact = tagged(qs.indices.map { t =>
      base.filter(col(s"e$t").isNotNull)
        .orderBy(col(s"e$t").desc, col("vec_id")).limit(k).select(col("vec_id"))
    }, "e")
    val sketch = tagged(qs.indices.map { t =>
      base.filter(col(s"p$t").isNotNull)
        .orderBy(col(s"p$t").desc, col("vec_id")).limit(k).select(col("vec_id"))
    }, "s")
    val rerank = tagged(qs.indices.map { t =>
      base.filter(col(s"p$t").isNotNull)
        .orderBy(col(s"p$t").desc, col("vec_id")).limit(k * mult)
        .filter(col(s"e$t").isNotNull)
        .orderBy(col(s"e$t").desc, col("vec_id")).limit(k)
        .select(col("vec_id"))
    }, "r")
    exact
      .join(sketch, Seq("qid", "vec_id"), "full_outer")
      .join(rerank, Seq("qid", "vec_id"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L)).as("n_exact"),
        coalesce(
          sum(when(col("e").isNotNull && col("s").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap_sketch"),
        coalesce(
          sum(when(col("e").isNotNull && col("r").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap_rerank"))
      .withColumn("k", lit(k.toLong))
      .withColumn("n_queries", lit(Similarity.PanelQueries.toLong))
      .withColumn(
        "recall_sketch_permille",
        expr("n_overlap_sketch * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn(
        "recall_rerank_permille",
        expr("n_overlap_rerank * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn(
        "certified",
        col("recall_sketch_permille") >= lit(SketchRecallFloorPermille) &&
          col("recall_rerank_permille") >= lit(RerankRecallFloorPermille))
      .select(
        col("k"), col("n_queries"), col("n_exact"),
        col("n_overlap_sketch"), col("n_overlap_rerank"),
        col("recall_sketch_permille"), col("recall_rerank_permille"), col("certified"))
  }

  // ---- distortion certification ---------------------------------------

  /** Deterministic pair panel for the distortion audit: 64 pairs
    * (t, 64+3t) — ids that exist at every gate SF (n ≥ 500), disjoint
    * endpoints, spread across the id range.
    */
  val DistortionPairs: Seq[(Long, Long)] =
    (0 until 64).map(t => (t.toLong, (64 + 3 * t).toLong))

  /** Certified distortion bounds ≈ 1/√[[OutDim]] and 3/√[[OutDim]]:
    * the JL/Achlioptas error of a k-dim Rademacher sketch of a unit
    * pair has sd √((1+cos²)/k) ≤ √(2/k); mean |err| ≈ sd·√(2/π). At
    * OutDim=16 that predicts mean ≈ 0.2, 3σ ≈ 0.75 (measured on the
    * panel: mean ~0.17–0.20, max ~0.55–0.65 across SFs).
    */
  val MeanAbsErrBound = 0.25
  val MaxAbsErrBound = 0.75

  /** One-row JL DISTORTION certificate — the lemma itself under the
    * gate, and the certificate that does NOT depend on corpus size or
    * cosine-gap geometry (unlike top-k recall): |cos_sketch − cos|
    * over the fixed pair panel, mean and max against the
    * theory-derived bounds. A broken matrix (sign flip, scale error,
    * dropped dimension) blows the mean bound immediately. Cost: one
    * broadcast join of a 64-row literal panel against the corpus —
    * audit-scale at any SF.
    */
  def projDistortion(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pairs = DistortionPairs.toDF("a_id", "b_id")
    val ea = embeddings.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val eb = embeddings.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val joined = broadcast(pairs).join(ea, Seq("a_id")).join(eb, Seq("b_id"))
    val withY = graft.sources.Tables.addColumns(
      joined,
      (0 until OutDim).flatMap(j => Seq(
        s"ya$j" -> dotConstCol(col("ea"), Planes(j)),
        s"yb$j" -> dotConstCol(col("eb"), Planes(j)))))
    val dotP = chainSum((0 until OutDim).map(j => col(s"ya$j") * col(s"yb$j")))
    val naP = chainSum((0 until OutDim).map(j => col(s"ya$j") * col(s"ya$j")))
    val nbP = chainSum((0 until OutDim).map(j => col(s"yb$j") * col(s"yb$j")))
    val cosP = dotP / nullif(sqrt(naP) * sqrt(nbP), lit(0d))
    val cosE = expr(Similarity.cosinePair(Similarity.SparkDialect, "ea", "eb"))
    withY
      .withColumn("err", abs(cosP - cosE))
      .filter(col("err").isNotNull)
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(col("err")), 6).as("mean_abs_err"),
        round(max(col("err")), 6).as("max_abs_err"))
      .withColumn(
        "certified",
        col("mean_abs_err") <= lit(MeanAbsErrBound) &&
          col("max_abs_err") <= lit(MaxAbsErrBound))
  }

  def projDistortionSql: String = {
    val rows = DistortionPairs.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    val yas = (0 until OutDim)
      .map(j => s"(${Similarity.DuckDialect.dotConst("ea", Planes(j))}) AS ya$j")
      .mkString(",\n  ")
    val ybs = (0 until OutDim)
      .map(j => s"(${Similarity.DuckDialect.dotConst("eb", Planes(j))}) AS yb$j")
      .mkString(",\n  ")
    val dotP = (0 until OutDim).map(j => s"ya$j*yb$j").mkString("0 + ", " + ", "")
    val naP = (0 until OutDim).map(j => s"ya$j*ya$j").mkString("0 + ", " + ", "")
    val nbP = (0 until OutDim).map(j => s"yb$j*yb$j").mkString("0 + ", " + ", "")
    s"""WITH pairs(a_id, b_id) AS (SELECT * FROM (VALUES $rows)),
       |j AS (SELECT a.embedding AS ea, b.embedding AS eb
       |      FROM pairs JOIN embeddings a ON a.vec_id = a_id
       |                 JOIN embeddings b ON b.vec_id = b_id),
       |y AS (SELECT ea, eb,\n  $yas,\n  $ybs\nFROM j),
       |d AS (SELECT
       |  (($dotP) / nullif(sqrt($naP) * sqrt($nbP), 0)) AS cos_p,
       |  ${Similarity.cosinePair(Similarity.DuckDialect, "ea", "eb")} AS cos_e
       |  FROM y),
       |e AS (SELECT abs(cos_p - cos_e) AS err FROM d WHERE cos_p IS NOT NULL AND cos_e IS NOT NULL)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(avg(err), 6) AS mean_abs_err,
       |  round(max(err), 6) AS max_abs_err,
       |  round(avg(err), 6) <= $MeanAbsErrBound AND round(max(err), 6) <= $MaxAbsErrBound AS certified
       |FROM e""".stripMargin
  }

  // ---- DuckDB oracle SQL ----------------------------------------------

  private def duckY(j: Int): String =
    Similarity.DuckDialect.dotConst("embedding", Planes(j))

  /** The shared sketch CTE: vec_id, embedding, y00..y15 (raw doubles). */
  private def duckProjCte: String = {
    val ys = (0 until OutDim).map(j => s"(${duckY(j)}) AS ${yName(j)}").mkString(",\n  ")
    s"p AS (SELECT vec_id, embedding,\n  $ys\nFROM embeddings)"
  }

  private def duckProjSim(qp: Array[Double]): String = {
    val qn = math.sqrt(qp.foldLeft(0.0)((a, x) => a + x * x))
    val dot = (0 until OutDim).map(j => s"${yName(j)}*(${qp(j)})").mkString("0 + ", " + ", "")
    val n2 = (0 until OutDim).map(j => s"${yName(j)}*${yName(j)}").mkString("0 + ", " + ", "")
    s"(($dot) / nullif(sqrt($n2) * $qn, 0))"
  }

  def projectSql(maxVecId: Long): String = {
    val ys = (0 until OutDim)
      .map(j => s"round(${yName(j)}, 6) AS ${yName(j)}")
      .mkString(",\n  ")
    s"""WITH $duckProjCte
       |SELECT vec_id,\n  $ys\nFROM p WHERE vec_id < $maxVecId ORDER BY vec_id""".stripMargin
  }

  def projTopKSql(k: Int): String = {
    val qp = projectQuery(Similarity.QueryVec)
    s"""WITH $duckProjCte,
       |s AS (SELECT vec_id, ${duckProjSim(qp)} AS sim_raw FROM p)
       |SELECT vec_id, round(sim_raw, 6) AS sim FROM (
       |  SELECT vec_id, sim_raw FROM s WHERE sim_raw IS NOT NULL
       |  ORDER BY sim_raw DESC, vec_id LIMIT $k)
       |ORDER BY sim_raw DESC, vec_id""".stripMargin
  }

  def projTopKRerankSql(k: Int, mult: Int = RerankShortlistMult): String = {
    val qp = projectQuery(Similarity.QueryVec)
    s"""WITH $duckProjCte,
       |s AS (SELECT vec_id, ${duckProjSim(qp)} AS sim_raw FROM p),
       |short AS (SELECT vec_id FROM s WHERE sim_raw IS NOT NULL
       |          ORDER BY sim_raw DESC, vec_id LIMIT ${k * mult}),
       |x AS (SELECT e.vec_id,
       |             ${Similarity.cosineToQuery(Similarity.DuckDialect, "e.embedding")} AS sim_raw
       |      FROM embeddings e JOIN short USING (vec_id))
       |SELECT vec_id, round(sim_raw, 6) AS sim FROM (
       |  SELECT vec_id, sim_raw FROM x WHERE sim_raw IS NOT NULL
       |  ORDER BY sim_raw DESC, vec_id LIMIT $k)
       |ORDER BY sim_raw DESC, vec_id""".stripMargin
  }

  def projRecallSql(k: Int, mult: Int = RerankShortlistMult): String = {
    val qs = (0 until Similarity.PanelQueries).map(Similarity.queryVec)
    val sims = qs.zipWithIndex.flatMap { case (q, t) =>
      Seq(
        s"${Similarity.cosineTo(Similarity.DuckDialect, "embedding", q)} AS e$t",
        s"${duckProjSim(projectQuery(q))} AS p$t")
    }.mkString(",\n  ")
    def union(body: Int => String): String =
      qs.indices.map(t => s"SELECT $t AS qid, vec_id FROM (${body(t)})").mkString("\nUNION ALL\n")
    val exact = union(t =>
      s"SELECT vec_id FROM base WHERE e$t IS NOT NULL ORDER BY e$t DESC, vec_id LIMIT $k")
    val sketch = union(t =>
      s"SELECT vec_id FROM base WHERE p$t IS NOT NULL ORDER BY p$t DESC, vec_id LIMIT $k")
    val rerank = union(t =>
      s"""SELECT vec_id FROM (
         |  SELECT vec_id, e$t FROM base WHERE p$t IS NOT NULL
         |  ORDER BY p$t DESC, vec_id LIMIT ${k * mult})
         |WHERE e$t IS NOT NULL ORDER BY e$t DESC, vec_id LIMIT $k""".stripMargin)
    s"""WITH $duckProjCte,
       |base AS (SELECT vec_id,\n  $sims\nFROM p),
       |exact AS (SELECT qid, vec_id, 1 AS e FROM ($exact)),
       |sk AS (SELECT qid, vec_id, 1 AS s FROM ($sketch)),
       |rr AS (SELECT qid, vec_id, 1 AS r FROM ($rerank)),
       |f AS (SELECT e, s, r FROM exact
       |      FULL JOIN sk USING (qid, vec_id)
       |      FULL JOIN rr USING (qid, vec_id)),
       |c AS (SELECT CAST(coalesce(sum(coalesce(e, 0)), 0) AS BIGINT) AS n_exact,
       |             CAST(coalesce(sum(CASE WHEN e IS NOT NULL AND s IS NOT NULL
       |                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_overlap_sketch,
       |             CAST(coalesce(sum(CASE WHEN e IS NOT NULL AND r IS NOT NULL
       |                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_overlap_rerank
       |      FROM f)
       |SELECT CAST($k AS BIGINT) AS k,
       |  CAST(${Similarity.PanelQueries} AS BIGINT) AS n_queries, n_exact,
       |  n_overlap_sketch, n_overlap_rerank,
       |  n_overlap_sketch * 1000 // greatest(n_exact, 1) AS recall_sketch_permille,
       |  n_overlap_rerank * 1000 // greatest(n_exact, 1) AS recall_rerank_permille,
       |  n_overlap_sketch * 1000 // greatest(n_exact, 1) >= $SketchRecallFloorPermille AND
       |  n_overlap_rerank * 1000 // greatest(n_exact, 1) >= $RerankRecallFloorPermille AS certified
       |FROM c""".stripMargin
  }
}
