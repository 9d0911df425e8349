package graft.operators

import graft.functions.{FloatDotConstExpr, FloatDotSelfExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Distributed principal-component analysis over the embedding corpus:
  * ONE pass computes the exact moment sums (count, d first moments,
  * d(d+1)/2 upper-triangle second moments — a partial+final aggregate
  * whose state is ~17 KB at d=64, so the 100 TB training cost is one
  * codegen scan regardless of corpus size), the 64×64 eigenproblem is
  * solved driver-side (O(d³), corpus-independent), and every downstream
  * consumer — projection, reconstruction audit, whitening audit — is a
  * stateless codegen map over [[FloatDotConstExpr]] columns.
  *
  * Gate design (see [[PcaRef]] for the numerics): the synthetic corpus
  * is near-isotropic (eigen-gaps ~3.6e-5), so eigenVECTOR coordinates
  * are conditioned as tol/gap and cannot be hash-gated at 6 dp across
  * two correct implementations. The oracle entries therefore pin only
  * rotation-stable quantities:
  *   - `pca_variance`: the eigenvalue spectrum (Weyl-stable to ‖ΔC‖)
  *     plus integer explained-variance permilles derived from the
  *     6-dp-rounded eigenvalues themselves;
  *   - `pca_reconstruction`: mean squared residual at [[ReconD]]
  *     components == Σ tail eigenvalues ·(n−1)/n — the subspace enters
  *     at SECOND order (optimality), so ref-vs-distributed basis
  *     differences of ~1e-8 radians shift the gate values by ~1e-16;
  *   - `pca_whiten`: the whitened covariance replayed against I₈ —
  *     off-diagonals are (λi−λj)·θij/√(λiλj) ≈ 1e-11 under basis
  *     perturbation θ, exactly 0/1 after rounding.
  * Vector-level parity between this trainer and the sequential ref is
  * asserted with an explicit tolerance in PcaSpec.
  */
object Pca {

  /** Components kept by the reconstruction/whitening certificates. */
  val ReconD = 8

  /** |mean residual − closed form| certification tolerance: the
    * identity holds to O(solver_tol·d) ≈ 1e-12; 1e-6 trips on a real
    * defect (wrong centering, dropped component, bad eigenvalue) while
    * ignoring summation-order noise.
    */
  val CertTolerance = 1e-6

  /** Trained model: corpus size, mean vector, eigenvalues descending,
    * sign-canonicalized eigenvector rows.
    */
  final case class Model(
      n: Long,
      mean: Array[Double],
      eig: Array[Double],
      vecs: Array[Array[Double]])

  private def dotConstCol(c: Column, v: Array[Double]): Column =
    Shim.column(FloatDotConstExpr(Shim.expression(c), v.toSeq))

  private def dotSelfCol(c: Column): Column =
    Shim.column(FloatDotSelfExpr(Shim.expression(c)))

  /** Left-fold sum in the shared dialect association. */
  private def chainSum(ts: Seq[Column]): Column = ts.foldLeft(lit(0d))(_ + _)

  // ---- distributed training -------------------------------------------

  /** Exact corpus moments in ONE aggregation: n, Σxᵢ, Σxᵢxⱼ (i≤j).
    * Partial+final HashAggregate — each executor folds its partition
    * into 2 145 doubles, the driver merges 32 such states. Nothing
    * about this plan changes at 1000 executors.
    */
  def momentsDistributed(emb: DataFrame): (Long, Array[Double], Array[Array[Double]]) = {
    val d = Similarity.Dim
    val proj = emb.select(
      (0 until d).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
    val sumCols = (0 until d).map(i => sum(col(s"x$i")).as(s"s$i"))
    val prodCols =
      for { i <- 0 until d; j <- i until d }
        yield sum(col(s"x$i") * col(s"x$j")).as(s"p_${i}_$j")
    val aggs = (count(lit(1)).cast("long").as("n") +: sumCols) ++ prodCols
    val row = proj.agg(aggs.head, aggs.tail: _*).collect().head
    val n = row.getAs[Long]("n")
    require(n >= 2, s"PCA needs at least 2 vectors, got $n")
    val s = Array.tabulate(d)(i => row.getAs[Double](s"s$i"))
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (row.getAs[Double](s"p_${a}_$b") - s(a) * s(b) / n) / (n - 1)
    }
    (n, s.map(_ / n), cov)
  }

  /** Driver-side eigensolver for the production path — written
    * independently of [[PcaRef.jacobiEigen]] (cyclic Jacobi on a packed
    * upper triangle with the explicit app/aqq/apq update vs the ref's
    * full-matrix two-sided rotations): the `pca_variance` gate compares
    * the two solvers' spectra at 6 dp on two covariance paths that
    * never share a line.
    */
  def eigenSym(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    // packed upper triangle a(i)(j), j >= i; eigenvectors accumulate in rows
    val a = Array.tabulate(d)(i => Array.tabulate(d - i)(k => m(i)(i + k)))
    val vr = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    def at(i: Int, j: Int): Double = if (i <= j) a(i)(j - i) else a(j)(i - j)
    def set(i: Int, j: Int, x: Double): Unit =
      if (i <= j) a(i)(j - i) = x else a(j)(i - j) = x
    val norm = math.sqrt((0 until d).map(i => (i until d).map { j =>
      val x = at(i, j); (if (i == j) 1.0 else 2.0) * x * x
    }.sum).sum)
    var sweep = 0
    var done = false
    while (!done && sweep < 64) {
      // row-major sweep over every off-diagonal pair (deterministic
      // rotation order); convergence is judged on the off-diagonal
      // Frobenius norm AFTER the sweep, never on whether a sweep
      // happened to rotate — an early-threshold skip must not read as
      // convergence on a nearly-diagonal matrix
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = at(p, q)
          if (math.abs(apq) > 1e-300) {
            val diff = at(q, q) - at(p, p)
            val phi = diff / (2.0 * apq)
            // phi == 0 (equal diagonals) must rotate the full 45°
            val t =
              if (phi == 0.0) 1.0
              else math.signum(phi) / (math.abs(phi) + math.sqrt(phi * phi + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            val app = at(p, p); val aqq = at(q, q)
            set(p, p, app - t * apq)
            set(q, q, aqq + t * apq)
            set(p, q, 0.0)
            var i = 0
            while (i < d) {
              if (i != p && i != q) {
                val aip = at(i, p); val aiq = at(i, q)
                set(i, p, c * aip - sn * aiq)
                set(i, q, sn * aip + c * aiq)
              }
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = vr(p)(i); val viq = vr(q)(i)
              vr(p)(i) = c * vip - sn * viq
              vr(q)(i) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      val off = math.sqrt((0 until d).map(i =>
        (i + 1 until d).map(j => 2.0 * at(i, j) * at(i, j)).sum).sum)
      done = off <= 1e-14 * math.max(norm, 1e-300)
      sweep += 1
    }
    val order = (0 until d).sortBy(j => -at(j, j))
    val eig = order.map(j => at(j, j)).toArray
    val vecs = order.map(j => PcaRef.canonicalize(vr(j).clone())).toArray
    (eig, vecs)
  }

  def train(emb: DataFrame): Model = {
    val (n, mean, cov) = momentsDistributed(emb)
    val (eig, vecs) = eigenSym(cov)
    Model(n, mean, eig, vecs)
  }

  // ---- spectrum presentation -------------------------------------------

  /** Integer explained-variance permilles from 6-dp eigenvalues: both
    * engines derive the permilles from the very numbers the gate pins,
    * so the integer arithmetic can never disagree when the spectrum
    * matches. Non-positive rounded tail eigenvalues clamp to 0.
    */
  def permilles(eig: Array[Double]): Seq[(Int, Double, Long, Long)] = {
    val r6 = eig.map(Similarity.round6)
    val micro = r6.map(v => math.max(0L, math.round(v * 1e6)))
    val total = math.max(1L, micro.sum)
    var cum = 0L
    r6.indices.map { i =>
      cum += micro(i)
      (i, r6(i), micro(i) * 1000L / total, cum * 1000L / total)
    }
  }

  /** The `pca_variance` gate surface: the full spectrum in long format.
    * Training is the distributed work; materializing 64 spectrum rows
    * is the same driver-side boundary as the k-means centroid table.
    */
  def pcaVariance(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    permilles(model.eig).toDF("component", "eigenvalue", "explained_permille", "cum_permille")
      .select(
        col("component").cast("int").as("component"),
        col("eigenvalue"),
        col("explained_permille"),
        col("cum_permille"))
      .orderBy(col("component"))
  }

  /** DuckDB twin: the sequential-ref spectrum as VALUES literals. */
  def pcaVarianceSql(eig: Array[Double]): String = {
    val rows = permilles(eig)
      .map { case (c, v, e, cm) => s"($c, $v, $e, $cm)" }
      .mkString(", ")
    s"""WITH expected(component, eigenvalue, explained_permille, cum_permille) AS
       |  (SELECT * FROM (VALUES $rows))
       |SELECT CAST(component AS INTEGER) AS component,
       |       CAST(eigenvalue AS DOUBLE) AS eigenvalue,
       |       CAST(explained_permille AS BIGINT) AS explained_permille,
       |       CAST(cum_permille AS BIGINT) AS cum_permille
       |FROM expected ORDER BY component""".stripMargin
  }

  // ---- projection (library surface; spec-gated with tolerance) ---------

  /** Centered principal scores z₀..z_{d−1} as codegen columns: one
    * [[FloatDotConstExpr]] per component minus the constant μ·vⱼ —
    * the ingest-time projection map at 100 TB.
    */
  def zCols(model: Model, d: Int): Seq[Column] =
    (0 until d).map { j =>
      val v = model.vecs(j)
      val cj = dotDD(model.mean, v)
      (dotConstCol(col("embedding"), v) - lit(cj)).as(f"z$j%02d")
    }

  private def dotDD(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))

  // ---- reconstruction certificate ---------------------------------------

  /** One-row `pca_reconstruction` certificate: the distributed mean
    * squared residual after projecting onto the top [[ReconD]]
    * components, against the closed form Σ_{i≥d} λᵢ·(n−1)/n — the
    * Pythagorean identity of the optimal subspace, the rotation-stable
    * proof that the trained basis actually spans the top-variance
    * directions AND that the projection machinery (centering, dots,
    * norms) is exact.
    */
  def pcaReconstruction(emb: DataFrame, model: Model, d: Int = ReconD): DataFrame = {
    val mu2 = dotDD(model.mean, model.mean)
    val base = emb.select(
      dotSelfCol(col("embedding")).as("xx") +:
        dotConstCol(col("embedding"), model.mean).as("xm") +:
        zCols(model, d): _*)
    val cx2 = col("xx") - lit(2.0) * col("xm") + lit(mu2)
    val zsq = chainSum((0 until d).map(j => col(f"z$j%02d") * col(f"z$j%02d")))
    val closedRaw = model.eig.drop(d).sum * (model.n - 1).toDouble / model.n.toDouble
    base
      .agg(count(lit(1)).cast("long").as("n_vectors"), avg(cx2 - zsq).as("mr"))
      .select(
        col("n_vectors"),
        lit(d).cast("int").as("d"),
        (round(col("mr"), 6) + lit(0d)).as("mean_residual_sq"),
        (round(lit(closedRaw), 6) + lit(0d)).as("closed_form"),
        (abs(col("mr") - lit(closedRaw)) <= lit(CertTolerance)).as("certified"))
  }

  /** DuckDB twin of [[pcaReconstruction]]: residuals recomputed from the
    * raw floats with the sequential ref's basis/mean/eigenvalue
    * literals — engine parity at 6 dp is the cross-implementation gate.
    */
  def pcaReconstructionSql(model: Model, d: Int = ReconD): String = {
    val dd = Similarity.DuckDialect
    val mu2 = dotDD(model.mean, model.mean)
    val zs = (0 until d).map { j =>
      val cj = dotDD(model.mean, model.vecs(j))
      s"((${dd.dotConst("embedding", model.vecs(j))}) - ($cj)) AS z$j"
    }.mkString(",\n  ")
    val zsq = (0 until d).map(j => s"z$j*z$j").mkString("0 + ", " + ", "")
    val closedRaw = model.eig.drop(d).sum * (model.n - 1).toDouble / model.n.toDouble
    s"""WITH z AS (SELECT
       |  (${dd.dotSelf("embedding")}) AS xx,
       |  (${dd.dotConst("embedding", model.mean)}) AS xm,
       |  $zs
       |FROM embeddings),
       |r AS (SELECT xx - 2.0*xm + ($mu2) - ($zsq) AS resid FROM z),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors, avg(resid) AS mr FROM r)
       |SELECT n_vectors, CAST($d AS INTEGER) AS d,
       |  round(mr, 6) + 0 AS mean_residual_sq,
       |  round($closedRaw, 6) + 0 AS closed_form,
       |  abs(mr - ($closedRaw)) <= $CertTolerance AS certified
       |FROM s""".stripMargin
  }

  // ---- whitening certificate --------------------------------------------

  /** The `pca_whiten` gate: sample covariance of the whitened scores
    * zⱼ/√λⱼ replayed as 36 upper-triangle rows — expected EXACTLY the
    * identity after 6-dp rounding (diagonals are λᵢ^(distributed)/λᵢ
    * = 1±1e-12; off-diagonals are solver-tolerance artifacts ~1e-11).
    * Scores are centered by construction (Σz = 0 analytically), so the
    * second moment over n−1 IS the sample covariance — both engines
    * use that form verbatim.
    */
  def pcaWhiten(emb: DataFrame, model: Model, d: Int = ReconD): DataFrame = {
    val pairsIdx = for { i <- 0 until d; j <- i until d } yield (i, j)
    val base = emb.select(zCols(model, d): _*)
    val aggs = count(lit(1)).cast("long").as("n") +:
      pairsIdx.map { case (i, j) =>
        sum(col(f"z$i%02d") * col(f"z$j%02d")).as(s"p_${i}_$j")
      }
    val w = base
      .agg(aggs.head, aggs.tail: _*)
      .select(pairsIdx.map { case (i, j) =>
        val scale = math.sqrt(model.eig(i) * model.eig(j))
        (round(col(s"p_${i}_$j") / (col("n") - 1) / lit(scale), 6) + lit(0d))
          .as(s"w_${i}_$j")
      }: _*)
    val stackArgs = pairsIdx
      .map { case (i, j) => s"$i, $j, w_${i}_$j" }
      .mkString(", ")
    w.selectExpr(s"stack(${pairsIdx.size}, $stackArgs) AS (i, j, cov_w)")
      .select(
        col("i").cast("int").as("i"),
        col("j").cast("int").as("j"),
        col("cov_w"))
      .orderBy(col("i"), col("j"))
  }

  /** DuckDB twin of [[pcaWhiten]] with the ref basis literals. */
  def pcaWhitenSql(model: Model, d: Int = ReconD): String = {
    val dd = Similarity.DuckDialect
    val pairsIdx = for { i <- 0 until d; j <- i until d } yield (i, j)
    val zs = (0 until d).map { j =>
      val cj = dotDD(model.mean, model.vecs(j))
      s"((${dd.dotConst("embedding", model.vecs(j))}) - ($cj)) AS z$j"
    }.mkString(",\n  ")
    val sums = pairsIdx
      .map { case (i, j) => s"sum(z$i*z$j) AS p_${i}_$j" }
      .mkString(",\n  ")
    val rows = pairsIdx.map { case (i, j) =>
      val scale = math.sqrt(model.eig(i) * model.eig(j))
      s"SELECT CAST($i AS INTEGER) AS i, CAST($j AS INTEGER) AS j, " +
        s"round(p_${i}_$j / (n - 1) / ($scale), 6) + 0 AS cov_w FROM a"
    }.mkString("\nUNION ALL\n")
    s"""WITH z AS (SELECT
       |  $zs
       |FROM embeddings),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  $sums
       |FROM z)
       |SELECT i, j, cov_w FROM (
       |$rows
       |) ORDER BY i, j""".stripMargin
  }
}
