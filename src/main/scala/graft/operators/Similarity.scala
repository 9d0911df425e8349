package graft.operators

import graft.functions.{FloatDotConstExpr, FloatDotSelfExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Similarity search over an embedding column (`array<float>`, 64-d).
  *
  * Scale design (100 TB): brute-force top-k against ONE query vector is a
  * single scan + TakeOrdered (no shuffle of vectors); the pairwise
  * near-duplicate problem is never all-pairs — candidates come from
  * sign-LSH band buckets (equi-join on band value), then only candidates
  * get the exact cosine check. Bucket assignment (IVF) routes a query to
  * one centroid's partition so search touches 1/C of the data.
  *
  * Determinism/oracle design: every float expression is generated ONCE as
  * a plain arithmetic string in two dialects (element accessor differs)
  * with identical association order, so Spark and DuckDB produce
  * bit-identical doubles — no `list_cosine_similarity` (unknown
  * summation order), no UDFs (boxing, no codegen). All constants
  * (query vector, centroids, hyperplanes) are deterministic literals.
  */
object Similarity {

  val Dim = 64

  /** Expression dialect. Both emit a strict LEFT fold seeded with 0.0
    * over the same term order, so the doubles agree bit-for-bit.
    * DuckDB uses the explicit `0 + t1 + t2 + …` chain (its list_sum
    * order is unspecified). SparkDialect (higher-order functions) is
    * the REFERENCE formulation the production path is checked against:
    * the hot path now runs the native codegen kernels
    * (graft.functions.VectorKernels, same left-fold order — tight
    * generated loop instead of per-row closure allocation), and
    * PipelineOpsSpec asserts kernel == HOF bit-for-bit.
    */
  sealed trait Dialect {
    def dotConst(col: String, v: Array[Double]): String
    def dotSelf(col: String): String
    def dotPair(a: String, b: String): String
    def signSum(col: String, plane: Array[Int]): String
  }

  object SparkDialect extends Dialect {
    private def litArr(v: Array[Double]) = v.map(x => s"${x}D").mkString("array(", ", ", ")")
    def dotConst(col: String, v: Array[Double]): String =
      s"aggregate(zip_with($col, ${litArr(v)}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, x) -> a + x)"
    def dotSelf(col: String): String =
      s"aggregate($col, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    def dotPair(a: String, b: String): String =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, x) -> acc + x)"
    def signSum(col: String, plane: Array[Int]): String =
      dotConst(col, plane.map(_.toDouble))
  }

  object DuckDialect extends Dialect {
    private def elem(c: String, i: Int) = s"CAST($c[$i] AS DOUBLE)"
    def dotConst(col: String, v: Array[Double]): String =
      v.indices.map(i => s"${elem(col, i + 1)}*(${v(i)})").mkString("0 + ", " + ", "")
    def dotSelf(col: String): String =
      (0 until Dim).map(i => s"${elem(col, i + 1)}*${elem(col, i + 1)}").mkString("0 + ", " + ", "")
    def dotPair(a: String, b: String): String =
      (0 until Dim).map(i => s"${elem(a, i + 1)}*${elem(b, i + 1)}").mkString("0 + ", " + ", "")
    def signSum(col: String, plane: Array[Int]): String =
      plane.indices.map(i => s"${if (plane(i) > 0) "+" else "-"} ${elem(col, i + 1)}").mkString("0 ", " ", "")
  }

  // ---- deterministic constants --------------------------------------

  /** Synthetic query vector: v[i] = ((i*37) mod 97)/97 − 0.5. */
  val QueryVec: Array[Double] =
    Array.tabulate(Dim)(i => ((i * 37) % 97) / 97.0 - 0.5)

  /** Deterministic query PANEL: `queryVec(0)` == [[QueryVec]]; higher
    * t varies the modular pattern. A single query vector makes a
    * recall comparison a coin-flip on where its one neighbor cap falls
    * relative to cell boundaries (and the fixed centroids share
    * QueryVec's modular-pattern family, biasing single-query recall
    * toward them); averaging over a panel measures the GEOMETRY, not
    * the luck of one query.
    */
  def queryVec(t: Int): Array[Double] =
    Array.tabulate(Dim)(i => ((i * (37 + 2 * t) + 11 * t) % 97) / 97.0 - 0.5)

  /** 8 IVF centroids, L2-normalized (so argmax dot == argmax cosine). */
  val Centroids: Array[Array[Double]] = Array.tabulate(8) { j =>
    val raw = Array.tabulate(Dim)(i => ((i * 31 + j * 17 + 13) % 101) / 101.0 - 0.5)
    val n = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x * x))
    raw.map(_ / n)
  }

  /** 64 random-sign hyperplanes (seeded) for sign-LSH: 8 bands × 8 bits.
    *
    * Band width bounds candidate cost: expected candidates ≈
    * bands · n²/2^bits, so 8-bit bands cut the self-join fan-out 16×
    * vs the earlier 4-bit bands (which at 50k vectors produced ~300M
    * candidate rows — a disguised all-pairs). Recall at genuine
    * near-dup similarity stays high (cos ≥ 0.9 → per-bit agreement
    * p = 1 − acos(0.9)/π ≈ 0.856, band hit p⁸ ≈ 0.29, eight bands →
    * 1−(1−0.29)⁸ ≈ 0.93; asserted on planted near-dups in
    * SimilaritySpec). Weakly-similar pairs (cos ≈ 0.4) are found with
    * correspondingly lower probability — the correct LSH trade-off;
    * catching weak pairs cheaply is what the coarse 4-bit setting
    * pretended to do by brute-forcing 16 giant buckets.
    */
  /** Deterministic prefix-stable plane generator: `planes(n)` draws n
    * sign planes from ONE seeded stream, so `planes(m).take(n) ==
    * planes(n)` for m ≥ n — widening the band geometry (more bits per
    * band as the corpus grows, see [[bandCandidates]]) REUSES the
    * production planes instead of reshuffling them.
    */
  private val planeCache = scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Int]]]
  def planes(n: Int): Array[Array[Int]] = planeCache.getOrElseUpdate(n, {
    val rnd = new scala.util.Random(7)
    Array.fill(n)(Array.fill(Dim)(rnd.nextInt(2) * 2 - 1))
  })

  val Planes: Array[Array[Int]] = planes(64)
  val LshBands = 8

  /** Default band width. THE fixed-parameter LSH scale hazard lives
    * here: expected candidate pairs ≈ bands · n²/2^bits — QUADRATIC in
    * corpus size for any fixed width (measured in-container: 10× the
    * embeddings took the band self-join 25× longer at 8 bits). The scale
    * rule is bits ≈ log₂(n) + constant: every 2× corpus growth adds one
    * bit to keep per-vector candidate counts flat, which
    * [[lshBanded]]/[[bandCandidates]] support via their `rowsPerBand`
    * parameter (same plane stream, prefix-stable), with recall on
    * high-similarity pairs degrading only by the per-bit agreement
    * factor (cos 0.9 → 0.856 per bit). [[bandCandidates]]' `maxBucket`
    * occupancy cap is the complementary guard against degenerate
    * buckets. The gate entries pin 8 bits so the DuckDB replay stays
    * byte-stable at gate SF.
    */
  val LshRowsPerBand = 8

  /** The log₂(n) width rule as CODE, not prose: bits per band for a
    * corpus of `n` vectors = max([[LshRowsPerBand]], ceil(log₂ n)).
    * At this width the expected candidate count bands·n²/2^bits
    * collapses to ≈ bands·n — LINEAR in corpus size — because 2^bits
    * tracks n; every 2× corpus growth adds one bit. This is the
    * DEFAULT inside the public [[knnJoin]] / [[semanticDecontaminate]]
    * / [[lshNearDupPairs]] entry points (round-9 verdict: a caller on
    * 10⁹ docs must not have to know the dial exists); the pinned-width
    * internals (`*From*`) remain for oracle replay and for callers
    * that tune recall explicitly. The gate replays the CHOSEN width in
    * DuckDB (oracleSqlFor computes the same count), so auto-selection
    * itself is oracle-checked.
    */
  def autoRowsPerBand(n: Long): Int =
    if (n <= 1L) LshRowsPerBand
    else math.max(LshRowsPerBand, 64 - java.lang.Long.numberOfLeadingZeros(n - 1))

  /** ||QueryVec|| with the same fold order as the generated sums. */
  val QueryNorm: Double =
    math.sqrt(QueryVec.foldLeft(0.0)((a, x) => a + x * x))

  // ---- expression generators (shared association order) -------------

  /** cosine(col, QueryVec). `nullif` keeps a zero-norm vector from
    * raising DIVIDE_BY_ZERO under ANSI mode (Spark 4 default — the
    * error aborts the whole query, a post-hoc NaN filter never runs);
    * zero vectors yield NULL and are filtered by callers. Identical
    * semantics in DuckDB.
    */
  def cosineToQuery(d: Dialect, col: String): String =
    cosineTo(d, col, QueryVec)

  /** cosine(col, q) for an arbitrary panel query — same shape, the
    * query norm folded driver-side with the same association.
    */
  def cosineTo(d: Dialect, col: String, q: Array[Double]): String = {
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    s"((${d.dotConst(col, q)}) / nullif(sqrt(${d.dotSelf(col)}) * $qn, 0))"
  }

  // ---- Spark Column surface: native codegen kernels ------------------
  // (graft.functions.VectorKernels — tight generated loops with the SAME
  // left-fold association as the HOF dialect above and the DuckDB chain;
  // PipelineOpsSpec asserts bit-equality against the HOF formulation)

  private def dotConstCol(c: Column, v: Array[Double]): Column =
    Shim.column(FloatDotConstExpr(Shim.expression(c), v.toSeq))

  private def dotSelfCol(c: Column): Column =
    Shim.column(FloatDotSelfExpr(Shim.expression(c)))

  /** Codegen cosine(col, QueryVec) — same values as
    * `cosineToQuery(SparkDialect, …)`, minus the per-row closure churn.
    */
  def cosineToQueryCol(c: Column): Column =
    cosineToCol(c, QueryVec)

  /** Codegen cosine(col, q) for an arbitrary panel query. */
  def cosineToCol(c: Column, q: Array[Double]): Column = {
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    dotConstCol(c, q) / nullif(sqrt(dotSelfCol(c)) * lit(qn), lit(0d))
  }

  /** Codegen band value (`rowsPerBand` sign bits) for [[lshBanded]]. */
  private def bandCol(c: Column, band: Int, rowsPerBand: Int, nPlanes: Array[Array[Int]]): Column =
    (0 until rowsPerBand).map { r =>
      val plane = nPlanes(band * rowsPerBand + r).map(_.toDouble)
      when(dotConstCol(c, plane) > 0, 1).otherwise(0) * (1 << (rowsPerBand - 1 - r))
    }.reduce(_ + _)

  /** cosine(a, b) — same zero-norm protection. */
  def cosinePair(d: Dialect, a: String, b: String): String =
    s"((${d.dotPair(a, b)}) / nullif(sqrt(${d.dotSelf(a)}) * sqrt(${d.dotSelf(b)}), 0))"

  /** Sign bit of plane p: fold(±col[i]) > 0. */
  def signBit(d: Dialect, col: String, p: Array[Int]): String =
    s"(CASE WHEN (${d.signSum(col, p)}) > 0 THEN 1 ELSE 0 END)"

  /** Band value from `rowsPerBand` sign bits (b = band index), drawn
    * from the prefix-stable plane stream: `planes(m).take(n) ==
    * planes(n)`, so widening the geometry never reshuffles the
    * underlying plane sequence. Note the per-BAND slices do shift with
    * width — band b at width w covers planes [b·w, (b+1)·w), so only
    * band 0's value at width 8 is a prefix of its width-12 value; the
    * stability guarantee is about the plane STREAM, not band values.
    */
  def bandExpr(
      d: Dialect,
      col: String,
      band: Int,
      rowsPerBand: Int = LshRowsPerBand): String = {
    val ps = planes(LshBands * rowsPerBand)
    val bits =
      (0 until rowsPerBand).map(r => signBit(d, col, ps(band * rowsPerBand + r)))
    bits.zipWithIndex
      .map { case (b, i) => s"$b*${1 << (rowsPerBand - 1 - i)}" }
      .mkString(" + ")
  }

  /** Argmax-centroid CASE over named columns s0..s7 (first max wins —
    * deterministic ties, same order both dialects).
    */
  def bucketCase(nCentroids: Int): String = {
    val all = (0 until nCentroids).map(j => s"s$j").mkString(", ")
    (0 until nCentroids)
      .map(j => s"WHEN s$j >= greatest($all) THEN $j")
      .mkString("CASE ", " ", " END")
  }

  /** Column twin of [[bucketCase]]/[[bucketCaseNamed]] for the SPARK
    * side: the IDENTICAL CASE tree (each WHEN re-states greatest over
    * all k scores, no ELSE, ties to the lowest j) built directly as
    * expressions. The string form stays the oracle/dialect-shared
    * artifact; parsing its ~k² column references through ANTLR per
    * plan construction was a measurable slice of the audit entries'
    * driver latency (stack-sampled, optimization round 16).
    */
  def bucketCaseCol(prefix: String, n: Int): Column = {
    require(n >= 2, s"bucketCaseCol needs >= 2 scores, got $n")
    val all = (0 until n).map(j => col(s"$prefix$j"))
    val g = greatest(all: _*)
    (1 until n).foldLeft(when(all(0) >= g, lit(0))) { (acc, j) =>
      acc.when(all(j) >= g, lit(j))
    }
  }

  /** The query vector's IVF bucket, computed driver-side with the same
    * fold order as the generated SQL (so routing agrees bit-for-bit).
    */
  val QueryBucket: Int = {
    val sims = Centroids.map { c =>
      QueryVec.indices.foldLeft(0.0)((a, i) => a + QueryVec(i) * c(i))
    }
    sims.indexWhere(s => s >= sims.max)
  }

  /** The `nprobe` centroid indices nearest the query (descending dot,
    * ties to the lower index) — FAISS-style multi-probe IVF. Centroids
    * and query are plan-time constants, so the probe set is computed
    * driver-side and reaches both engines as a literal IN-list; probing
    * P of C buckets touches P/C of the data, the standard recall/cost
    * dial.
    */
  def probedBuckets(nprobe: Int): Seq[Int] =
    Centroids.zipWithIndex
      .map { case (c, j) =>
        (QueryVec.indices.foldLeft(0.0)((a, i) => a + QueryVec(i) * c(i)), j)
      }
      .sortBy { case (s, j) => (-s, j) }
      .take(nprobe)
      .map(_._2)
      .toSeq

  // ---- Spark-side operators -----------------------------------------

  /** Brute-force top-k cosine against the query vector: one scan +
    * TakeOrdered, the exact baseline every ANN variant is judged
    * against.
    */
  def topK(embeddings: DataFrame, k: Int): DataFrame =
    topKFor(embeddings, k, QueryVec)

  def topKFor(embeddings: DataFrame, k: Int, q: Array[Double]): DataFrame =
    embeddings
      .withColumn("sim", cosineToCol(col("embedding"), q))
      // zero-norm embeddings cosine to NULL (see cosineToQuery) and must
      // never appear in a ranking
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("sim"), 6).as("sim"))

  /** `(vec_id, embedding, bucket)` — the IVF coarse-quantizer
    * assignment shared by buckets/topK/index-write. The 8 centroid dot
    * products are the dominant per-row cost; SparkEntry caches this
    * frame so each downstream query evaluates them once.
    */
  def ivfAssignments(embeddings: DataFrame): DataFrame =
    ivfAssignmentsWith(embeddings, Centroids)

  /** Dot-argmax coarse quantizer over ARBITRARY normalized centroids —
    * the assignment family shared by the fixed geometry and the
    * spherical-k-means-trained index (for unit centroids, argmax dot ==
    * argmax cosine; the row's own norm scales all k scores equally).
    */
  def ivfAssignmentsWith(
      embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    // one batched projection for the k score columns (addColumns note:
    // a per-column withColumn fold re-analyzes the growing plan per
    // call — pure planning cost, identical physical plan)
    graft.sources.Tables.addColumns(
      embeddings,
      cents.zipWithIndex.toSeq.map { case (c, j) =>
        s"s$j" -> dotConstCol(col("embedding"), c)
      })
      .withColumn("bucket", bucketCaseCol("s", cents.length))
      .select(col("vec_id"), col("embedding"), col("bucket"))
  }

  // ---- k-means centroid training (Lloyd's) ---------------------------

  /** Nearest-centroid assignment by squared L2 for ARBITRARY centroids:
    * argmin_j |v − c_j|² == argmax_j (2·v·c_j − |c_j|²) since |v|² is
    * constant per row. Each score is one codegen'd constant-dot — the
    * same expression family as the fixed-centroid IVF path; ties break
    * to the lowest j in both dialects.
    */
  /** s_j = 2·v·c_j − |c_j|² score columns — the ONE definition of the
    * k-means objective's per-centroid score, shared by assignment and
    * cost so the convergence spec can never drift from what the
    * assignment optimizes.
    */
  private def withCentroidScores(
      embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    graft.sources.Tables.addColumns(
      embeddings,
      cents.zipWithIndex.toSeq.map { case (c, j) =>
        s"s$j" -> (dotConstCol(col("embedding"), c) * lit(2.0) - lit(c.map(x => x * x).sum))
      })

  def assignNearest(embeddings: DataFrame, cents: Array[Array[Double]]): DataFrame =
    withCentroidScores(embeddings, cents)
      .withColumn("bucket", bucketCaseCol("s", cents.length))
      .select(col("vec_id"), col("embedding"), col("bucket"))

  /** Train `k` IVF centroids with `iters` Lloyd iterations, tracing the
    * within-cluster cost (inertia) of the centroids ENTERING each
    * iteration — the convergence certificate rides the same pass that
    * does the update, so certifying costs no extra scan.
    *
    * Distribution contract: the DATA never leaves the executors — each
    * iteration is one narrow assignment map (k codegen dots per row) and
    * one partial+final hash aggregation (64 `avg`s + one cost `sum` per
    * bucket); only the k×64-double centroid table and k cost partials
    * (a few KB, independent of corpus size) ever reach the driver. That
    * is the canonical scale shape for Lloyd's: at 100 TB the
    * per-iteration cost is one scan, no joins, no per-row UDFs.
    *
    * Deterministic: init = FARTHEST-POINT (the k-means++ shape without
    * randomness): c₀ is the lowest-vec_id vector; each next seed is the
    * vector MAXIMIZING min-squared-distance to the seeds so far, ties
    * to the lowest vec_id. The naive lowest-k init collapsed centroids
    * toward the corpus mean (measured: trained recall 400‰ vs the fixed
    * geometry's 800‰ at sf0.1); farthest-point seeds span the corpus.
    * Parity is EXACT here — every selection score is a per-row
    * expression (no distributed sums), bit-identical to the sequential
    * twin, so both sides pick the same seeds. Cost: k−1 extra
    * TakeOrdered scans, once per training (at 100 TB you'd run init on
    * a sample; the Lloyd loop shape is unchanged).
    *
    * Empty clusters keep their previous centroid. Centroids are
    * QUANTIZED to 6 dp after init and after every update, on this side
    * and in the pure-Scala KMeansRef twin — so distributed-vs-
    * sequential float summation divergence is re-zeroed each iteration
    * instead of compounding across iterations (it would otherwise grow
    * with partition count and iteration depth). Inertia is round6'd the
    * same way; per-bucket partials combine driver-side in bucket order
    * on both sides.
    */
  def kmeansTrace(
      embeddings: DataFrame,
      k: Int = Centroids.length,
      iters: Int = 5): (Array[Array[Double]], Array[Double]) = {
    val first = embeddings
      .orderBy(col("vec_id"))
      .limit(1)
      .select(col("embedding"))
      .collect()
    require(first.nonEmpty, "need at least 1 vector")
    val seeds = scala.collection.mutable.ArrayBuffer(
      first.head.getSeq[Float](0).map(f => round6(f.toDouble)).toArray)
    while (seeds.length < k) {
      val best =
        if (seeds.length == 1) "s0" // greatest() requires > 1 args
        else seeds.indices.map(j => s"s$j").mkString("greatest(", ", ", ")")
      val row = withCentroidScores(embeddings, seeds.toArray)
        .withColumn("d2", dotSelfCol(col("embedding")) - expr(best))
        .orderBy(col("d2").desc, col("vec_id"))
        .limit(1)
        .select(col("embedding"))
        .collect()
      seeds += row.head.getSeq[Float](0).map(f => round6(f.toDouble)).toArray
    }
    var cents: Array[Array[Double]] = seeds.toArray
    require(cents.length == k, s"need at least $k vectors, got ${cents.length}")
    val inertias = new Array[Double](iters)
    for (it <- 0 until iters) {
      val aggs = (0 until Dim).map(i => avg(col("embedding").getItem(i)).as(s"c$i")) :+
        sum(col("d2")).as("cost")
      val best = cents.indices.map(j => s"s$j").mkString("greatest(", ", ", ")")
      val rows = withCentroidScores(embeddings, cents)
        .withColumn("bucket", bucketCaseCol("s", cents.length))
        .withColumn("d2", dotSelfCol(col("embedding")) - expr(best))
        .groupBy(col("bucket"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      // combine the k per-bucket cost partials in bucket order (the
      // KMeansRef twin folds its bucket array the same way)
      inertias(it) = round6(
        rows.sortBy(_.getInt(0)).foldLeft(0.0)((a, r) => a + r.getDouble(Dim + 1)))
      val next = cents.map(_.clone())
      rows.foreach { r =>
        next(r.getInt(0)) = Array.tabulate(Dim)(i => round6(r.getDouble(i + 1)))
      }
      cents = next
    }
    (cents, inertias)
  }

  def kmeansCentroids(
      embeddings: DataFrame,
      k: Int = Centroids.length,
      iters: Int = 5): Array[Array[Double]] =
    kmeansTrace(embeddings, k, iters)._1

  // ---- spherical k-means (the COSINE-metric trainer the IVF index
  //      composes with) ------------------------------------------------

  /** Normalize-then-quantize a raw float seed vector: |v| with the
    * FloatDotSelfExpr fold, each component divided then round6'd. ONE
    * helper shared with KMeansRef so the two sides cannot drift.
    */
  def normalizedSeed(v: Array[Float]): Array[Double] = {
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(n2)
    v.map(x => round6(x / n))
  }

  /** Quantize a mean vector, normalize it from its ROUNDED components
    * (left-fold norm), quantize again — the deterministic driver-side
    * tail of a spherical centroid update, shared with KMeansRef.
    */
  def normalizeRound6(m: Array[Double]): Array[Double] = {
    val r = m.map(round6)
    val n = math.sqrt(r.foldLeft(0.0)((a, x) => a + x * x))
    if (n == 0.0) r else r.map(x => round6(x / n))
  }

  /** Train `k` UNIT centroids with `iters` spherical Lloyd iterations —
    * k-means on the unit sphere, the quantizer whose cells match the
    * COSINE search metric. The L2 trainer ([[kmeansTrace]]) partitions
    * partly by vector norm, which the cosine ranking ignores: measured
    * at sf0.1, L2-trained cells gave 550‰ recall@20 where the fixed
    * normalized geometry gave 800‰. Spherical cells are angular Voronoi
    * regions — the quantizer metric equals the query metric.
    *
    * Same scale/determinism contract as [[kmeansTrace]]: per iteration
    * ONE narrow scan (k codegen dots + per-dim normalized components)
    * and one hash aggregation; farthest-point-in-angle init with
    * per-row bit-exact selection scores; centroids 6dp-quantized after
    * init and every update on both sides. Assignment is plain dot
    * argmax (the [[ivfAssignmentsWith]] family — a row's own norm
    * scales all k scores equally, so no per-row division in the hot
    * path); zero-norm vectors are excluded from training (they have no
    * direction) but still assignable at index time. Inertia = Σ(1 −
    * cos(v, c_assigned)) of the centroids entering the iteration —
    * non-increasing under exact updates, certified to tolerance.
    */
  def kmeansSphericalTrace(
      embeddings: DataFrame,
      k: Int = Centroids.length,
      iters: Int = 5): (Array[Array[Double]], Array[Double]) = {
    val unit = embeddings.filter(dotSelfCol(col("embedding")) > 0)
    val first = unit
      .orderBy(col("vec_id"))
      .limit(1)
      .select(col("embedding"))
      .collect()
    require(first.nonEmpty, "need at least 1 nonzero vector")
    val seeds = scala.collection.mutable.ArrayBuffer(
      normalizedSeed(first.head.getSeq[Float](0).toArray))
    while (seeds.length < k) {
      // most angularly distant = argmin of max_j v·c_j/|v|, ties to the
      // lowest vec_id; per-row expressions only, so bit-exact vs the ref
      val withSims = graft.sources.Tables.addColumns(
        unit,
        seeds.toSeq.zipWithIndex.map { case (c, j) =>
          s"s$j" -> dotConstCol(col("embedding"), c)
        })
      val best =
        if (seeds.length == 1) "s0"
        else seeds.indices.map(j => s"s$j").mkString("greatest(", ", ", ")")
      val row = withSims
        .withColumn("ang", expr(best) / sqrt(dotSelfCol(col("embedding"))))
        .orderBy(col("ang").asc, col("vec_id"))
        .limit(1)
        .select(col("embedding"))
        .collect()
      seeds += normalizedSeed(row.head.getSeq[Float](0).toArray)
    }
    var cents: Array[Array[Double]] = seeds.toArray
    val inertias = new Array[Double](iters)
    for (it <- 0 until iters) {
      val withSims = graft.sources.Tables.addColumns(
        unit,
        cents.zipWithIndex.toSeq.map { case (c, j) =>
          s"s$j" -> dotConstCol(col("embedding"), c)
        })
      val best = cents.indices.map(j => s"s$j").mkString("greatest(", ", ", ")")
      val nrm = sqrt(dotSelfCol(col("embedding")))
      val aggs = (0 until Dim).map(i =>
        avg(col("embedding").getItem(i) / nrm).as(s"c$i")) :+
        sum(lit(1.0) - expr(best) / nrm).as("cost")
      val rows = withSims
        .withColumn("bucket", bucketCaseCol("s", cents.length))
        .groupBy(col("bucket"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      inertias(it) = round6(
        rows.sortBy(_.getInt(0)).foldLeft(0.0)((a, r) => a + r.getDouble(Dim + 1)))
      val next = cents.map(_.clone())
      rows.foreach { r =>
        next(r.getInt(0)) = normalizeRound6(Array.tabulate(Dim)(i => r.getDouble(i + 1)))
      }
      cents = next
    }
    (cents, inertias)
  }

  /** Round half-up to 6 dp — the ONE rounding both the gate entry and
    * the KMeansRef oracle apply, so the compared literals can only
    * diverge if the underlying doubles differ by more than the
    * distributed-vs-sequential summation ulps they're rounded past.
    */
  def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Gate surface for [[kmeansCentroids]]: the trained k×Dim centroid
    * table in long format (bucket, dim, value·6dp). The TRAINING is the
    * distributed work (one scan + one hash agg per iteration);
    * materializing k×64 literals as a local frame is the same
    * driver-side boundary as the centroids themselves.
    */
  def kmeansCentroidsTable(
      spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame,
      k: Int,
      iters: Int): DataFrame =
    kmeansTableFromCents(spark, kmeansCentroids(embeddings, k, iters))

  /** The gate frame for an ALREADY-trained centroid table — SparkEntry
    * trains once per (session, sf) and shares the result between the
    * centroid gate, the inertia certificate, and the trained IVF index.
    */
  def kmeansTableFromCents(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.flatMap { case (c, j) =>
      c.zipWithIndex.map { case (v, i) => (j, i, round6(v)) }
    }.toSeq.toDF("bucket", "dim", "value").orderBy(col("bucket"), col("dim"))
  }

  /** Tolerance for the monotone-inertia certificate: 6dp centroid
    * quantization perturbs the Lloyd objective by at most a few ulps of
    * the rounded values, so "non-increasing" is asserted up to one
    * rounding grain rather than exactly.
    */
  val InertiaTolerance = 1e-6

  /** Convergence certificate for the k-means build: per-iteration
    * inertia (within-cluster squared distance of the centroids ENTERING
    * iteration `iter`) plus a `decreased` flag vs the previous
    * iteration. The flag is computed from the round6'd inertia values —
    * identical literals on both engines — so the certificate rides the
    * gate hash (the sketch_certify pattern): a training change that
    * breaks monotone convergence fails the driver gate loudly.
    */
  def kmeansInertiaTable(
      spark: org.apache.spark.sql.SparkSession,
      inertias: Array[Double]): DataFrame = {
    import spark.implicits._
    inertias.zipWithIndex.map { case (v, it) =>
      (it, v, it == 0 || v <= inertias(it - 1) + InertiaTolerance)
    }.toSeq.toDF("iter", "inertia", "decreased").orderBy(col("iter"))
  }

  /** Within-cluster sum of squared distances for `cents` — the Lloyd
    * objective, one aggregation pass (used by the convergence spec).
    */
  def kmeansCost(embeddings: DataFrame, cents: Array[Array[Double]]): Double = {
    // |v − c_best|² = |v|² − max_j(2·v·c_j − |c_j|²), one pass, no join
    val best = cents.indices.map(j => s"s$j").mkString("greatest(", ", ", ")")
    withCentroidScores(embeddings, cents)
      .select((dotSelfCol(col("embedding")) - expr(best)).as("d2"))
      .agg(sum(col("d2")))
      .collect()(0)
      .getDouble(0)
  }

  /** IVF bucket assignment: vec_id → nearest (by cosine) of the 8
    * normalized centroids. At scale this is the partitioning key that
    * routes vectors to executors (write `partitionBy("bucket")`).
    */
  def ivfBuckets(embeddings: DataFrame): DataFrame =
    ivfBucketsFrom(ivfAssignments(embeddings))

  def ivfBucketsFrom(assigned: DataFrame): DataFrame =
    assigned.select(col("vec_id"), col("bucket")).orderBy(col("vec_id"))

  /** IVF search: probe ONLY the query's bucket, exact cosine inside it.
    * ~1/C of the data touched; recall is bounded by the coarse
    * quantizer (this is the standard IVF trade-off).
    */
  def ivfTopK(embeddings: DataFrame, k: Int): DataFrame =
    ivfTopKFrom(ivfAssignments(embeddings), k)

  def ivfTopKFrom(assigned: DataFrame, k: Int): DataFrame =
    ivfTopKProbedFrom(assigned, k, 1)

  /** Multi-probe IVF top-k: rank within the `nprobe` buckets nearest
    * the query. `nprobe = 1` is the classic single-bucket IVF search.
    */
  def ivfTopKProbedFrom(assigned: DataFrame, k: Int, nprobe: Int): DataFrame =
    probeTopK(assigned, probedBuckets(nprobe), k, QueryVec)

  private def probeTopK(
      assigned: DataFrame,
      probes: Seq[Int],
      k: Int,
      q: Array[Double]): DataFrame =
    assigned
      .filter(col("bucket").isin(probes.map(Int.box): _*))
      .withColumn("sim", cosineToCol(col("embedding"), q))
      .filter(col("sim").isNotNull) // zero-norm guard (see cosineToQuery)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("sim"), 6).as("sim"))

  // ---- trained-centroid IVF (k-means composed into the index) --------

  /** The `nprobe` TRAINED-centroid buckets nearest the query by dot
    * product (descending, ties to the lower index — [[probedBuckets]]
    * parametrized on the centroid table; centroids are unit vectors, so
    * dot == cosine). Both engines' probe IN-lists are computed by THIS
    * function from their own centroid table; the kmeans_spherical gate
    * certifies those tables equal, so the lists agree.
    */
  def probedBucketsFor(
      cents: Array[Array[Double]],
      nprobe: Int,
      q: Array[Double] = QueryVec): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, j) =>
        (q.indices.foldLeft(0.0)((a, i) => a + q(i) * c(i)), j)
      }
      .sortBy { case (s, j) => (-s, j) }
      .take(nprobe)
      .map(_._2)
      .toSeq

  /** Coarse-quantizer assignment against TRAINED unit centroids — the
    * composition the fixed-centroid [[ivfAssignments]] stands in for
    * until a corpus is available: same narrow k-dot codegen map, but
    * the partition geometry now follows the corpus distribution.
    */
  def ivfTrainedAssignments(
      embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    ivfAssignmentsWith(embeddings, cents)

  /** Multi-probe top-k over the trained index. */
  def ivfTopKTrainedFrom(
      assigned: DataFrame,
      cents: Array[Array[Double]],
      k: Int,
      nprobe: Int): DataFrame =
    probeTopK(assigned, probedBucketsFor(cents, nprobe), k, QueryVec)

  // ---- stored IVF index (bucket = the partition key at scale) --------

  /** Persist the IVF index PARTITIONED BY BUCKET — the 100 TB layout
    * the PERF notes promise: each coarse cell is its own partition
    * directory, so a probe's `bucket IN (...)` predicate prunes at FILE
    * level and a search touches nprobe/k of the corpus bytes without
    * any shuffle or index structure beyond the directory tree.
    */
  def ivfStoreWrite(assigned: DataFrame, path: String): Unit =
    // manifest build is LAZY (round 14): a write-only store never
    // probes its manifest, so building one here charged every
    // stored-serving entry for an index only maintenance uses; the
    // first upsert/delete's heal path builds it from the store's own
    // content (one full-scan probe on that first call — the same
    // one-time upgrade scan legacy stores pay)
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Answer the multi-probe top-k FROM STORAGE: read the persisted
    * index and rank within the probed buckets. The `isin` filter lands
    * in the scan's PartitionFilters (spec-asserted: only the probed
    * bucket directories' files are read), and the ranking math is
    * [[ivfTopKTrainedFrom]]'s — storage must be invisible in the
    * result, which is exactly what the shared oracle checks.
    */
  def ivfStoredTopK(
      spark: SparkSession,
      cents: Array[Array[Double]],
      k: Int,
      nprobe: Int,
      path: String): DataFrame =
    probeTopK(graft.sources.Tables.readStable(spark, path), probedBucketsFor(cents, nprobe), k, QueryVec)

  /** [[ivfStoredTopK]] against a CALLER-SUPPLIED store frame — the
    * time-travel read path: [[StoreGenerations.storeAsOf]] hands a
    * prior-generation snapshot here and the ranking math is identical
    * to the live stored probe, so "which index served run X" is
    * answerable with the exact serving semantics of run X's day.
    */
  def ivfStoredTopKFrom(
      store: DataFrame,
      cents: Array[Array[Double]],
      k: Int,
      nprobe: Int): DataFrame =
    probeTopK(store, probedBucketsFor(cents, nprobe), k, QueryVec)

  /** INCREMENTAL index maintenance: merge a batch of (assigned) vectors
    * into an existing bucket-partitioned store without a full rebuild —
    * the daily-crawl shape (round-9 verdict #3: `ivfStoreWrite` was
    * overwrite-only). Upsert semantics: a batch row whose `vec_id`
    * already exists in the store REPLACES it (re-embedded doc); new ids
    * append.
    *
    * Only the buckets the batch lands in, and those where a batch id
    * currently lives, are touched: the keyed-store maintenance
    * transaction ([[StoreManifest.maintain]]) appends an insert-only
    * batch, or swaps the touched buckets' surviving old rows ⟕ batch
    * rows in, leaving every other bucket's files untouched
    * (spec-asserted byte-for-byte on the untouched directories). At
    * 100 TB a daily batch touches the buckets its vectors land in —
    * cost ∝ batch + touched-bucket bytes, never corpus bytes. Returns
    * the touched bucket ids.
    */
  def ivfStoreUpsert(
      spark: SparkSession,
      assignedBatch: DataFrame,
      path: String): Seq[Int] =
    storeUpsert(spark, assignedBatch, path, payloadCols = Seq("embedding"))

  /** [[ivfStoreUpsert]] generalized over the stored payload — the SAME
    * touched-bucket merge for any `(vec_id, payload..., bucket)` table
    * partitioned by bucket. The PQ code store ([[Pq.pqStoreUpsert]],
    * payload = one packed BIGINT) and the float store (payload = the
    * embedding array) share this body, so the incremental-maintenance
    * semantics certified by `ann_ivf_incremental` carry over to the
    * serving-memory tier verbatim. The probe, marker, append-or-swap
    * and manifest steps are the keyed-store transaction,
    * [[StoreManifest.maintain]].
    */
  def storeUpsert(
      spark: SparkSession,
      assignedBatch: DataFrame,
      path: String,
      payloadCols: Seq[String]): Seq[Int] =
    StoreManifest.maintain(spark, path, VecStore, assignedBatch) { (_, batch) =>
      StoreManifest.Change(batch.select(col("vec_id")), Some(batch), "vec_id" +: payloadCols)
    }

  private val VecStore = StoreManifest.KeyedStore("vec_id", "bucket", idUnique = true)

  /** Right-to-be-forgotten DELETION from a bucket-partitioned store —
    * the maintenance operation a privacy request (GDPR erasure, consent
    * withdrawal) triggers against the serving index, completing the
    * store lifecycle: write → upsert → compact → DELETE. Works on any
    * `(vec_id, payload..., bucket)` layout (float index and PQ code
    * store alike — the [[storeUpsert]] genericity carried over).
    *
    * Only the buckets where a deleted id CURRENTLY lives are touched
    * (the [[StoreManifest.maintain]] old-home probe reused as the whole
    * plan); their surviving rows are staged and swapped back, untouched
    * buckets stay byte-identical, and a bucket emptied by the deletion
    * has its directory swept (the [[StoreManifest.swapPartitions]]
    * contract) so it cannot keep serving ghost rows. Cost ∝
    * touched-bucket bytes — never corpus bytes. Returns the touched
    * bucket ids.
    */
  def storeDelete(
      spark: SparkSession,
      deleteIds: DataFrame,
      path: String): Seq[Int] =
    StoreManifest.maintain(spark, path, VecStore, deleteIds.select(col("vec_id")).distinct()) {
      (store, ids) => StoreManifest.Change(ids, None, store.columns.toSeq.filterNot(_ == "bucket"))
    }

  /** Compact the small files that daily [[ivfStoreUpsert]] batches leave
    * behind (each upsert writes ≥1 new file into every touched bucket;
    * after N batches a hot bucket holds N files and probe latency starts
    * paying per-file open cost). The one store compactor
    * ([[StoreManifest.compactStore]]) pointed at the index layout:
    * rewrite only buckets holding more than
    * `maxFilesPerBucket` parquet files, leave the rest byte-untouched,
    * result-invisible (spec-asserted). Returns the compacted bucket
    * directories.
    */
  def ivfStoreCompact(
      spark: SparkSession,
      path: String,
      maxFilesPerBucket: Int = 1): Seq[String] = {
    val out = StoreManifest.compactStore(spark, path, Seq("bucket"), maxFilesPerBucket)
    // the manifest's garbage sweep rides the same cadence that bounds
    // small files: the append-only pairs deletes/moves leave behind
    // are rebuilt away here (StoreManifest class note)
    StoreManifest.rebuild(spark, path, "vec_id", idUnique = true)
    out
  }

  /** Near-duplicate pairs via sign-LSH: candidates = pairs agreeing on
    * ≥1 of [[LshBands]] bands (equi-join per band, NEVER all-pairs),
    * verified with exact cosine ≥ `threshold`. Candidate generation is
    * deterministic, so the DuckDB oracle replays it exactly (recall of
    * the LSH stage on planted near-dups is measured separately in
    * SimilaritySpec, which plants perturbed copies and asserts recall).
    *
    * Band width defaults to [[autoRowsPerBand]] of a cheap plan-time
    * corpus count (parquet row-group metadata — no data scan), so the
    * candidate join stays linear at any corpus size without the caller
    * knowing the dial exists.
    */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val w = autoRowsPerBand(embeddings.count())
    lshNearDupPairsFrom(lshBanded(embeddings, rowsPerBand = w), embeddings, threshold)
  }

  /** Approximate k-NN join at the AUTO-selected band width — the public
    * entry point of the k-NN family ([[knnJoinFrom]] is the pinned-width
    * internal). One cheap count picks bits = max(8, ceil(log₂ n)); the
    * candidate self-join is then ≈ bands·n rows at ANY corpus size
    * (round-9 measured the pinned 8-bit width at 29× for 10× data; the
    * scaled width held 4.9×).
    */
  def knnJoin(embeddings: DataFrame, k: Int): DataFrame = {
    val w = autoRowsPerBand(embeddings.count())
    knnJoinFrom(lshBanded(embeddings, rowsPerBand = w), embeddings, k)
  }

  /** `(vec_id, band0..band{n-1})` — the sign-LSH signature frame. The
    * 64 sign-plane dot products per row are the expensive part;
    * SparkEntry caches this frame so the candidate self-join reads it
    * instead of re-deriving the sums on both join sides (round-2
    * bench: 8 re-evaluations of the subtree).
    */
  def lshBanded(
      embeddings: DataFrame,
      bands: Int = LshBands,
      rowsPerBand: Int = LshRowsPerBand): DataFrame = {
    val ps = planes(bands * rowsPerBand)
    graft.sources.Tables.addColumns(
      embeddings,
      (0 until bands).map(b => s"band$b" -> bandCol(col("embedding"), b, rowsPerBand, ps)))
      .select(col("vec_id") +: (0 until bands).map(b => col(s"band$b")): _*)
  }

  /** Distinct candidate pairs (a_id < b_id) agreeing on ≥1 band: ONE
    * self-equi-join on (band_idx, band_value) over the posexploded
    * signature frame. Shared by the threshold and k-NN consumers
    * (SparkEntry caches this frame — the self-join is the dominant
    * cost of both, and the pair list is two longs per row).
    */
  /** `maxBucket` is the occupancy guard for the 100 TB run: a
    * (band_idx, band_value) bucket holding more vectors than the cap
    * carries no discriminating information for them (its candidate
    * contribution is occupancy² while the expected occupancy is
    * n/2^bits), so it is EXCLUDED from candidate generation — the
    * [[SpanDedup]]/Winnowing hot-key pattern applied to LSH buckets.
    * The count rides one window over the frame the join already
    * shuffles; the default (MaxValue) disables it and the gate entries
    * run uncapped so the DuckDB replay stays exact.
    */
  def bandCandidates(
      sig: DataFrame,
      bands: Int = LshBands,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    val exploded = sig.select(
      col("vec_id"),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "bk")))
    val banded =
      if (maxBucket == Long.MaxValue) exploded
      else
        exploded
          .withColumn(
            "occ",
            count(lit(1)).over(Window.partitionBy(col("band_idx"), col("bk"))))
          .filter(col("occ") <= maxBucket)
          .drop("occ")
    banded.as("a")
      .join(
        banded.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bk") === col("b.bk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  def lshNearDupPairsFrom(
      sig: DataFrame,
      embeddings: DataFrame,
      threshold: Double): DataFrame =
    lshNearDupPairsFromCands(bandCandidates(sig), embeddings, threshold)

  /** Attach the exact pair cosine to a `(a_id, b_id)` frame as `sim`.
    * Per-pair work is ONE codegen'd dot product: norms are computed once
    * per VECTOR (not per pair), elements are pre-cast to double once,
    * and the dot is an explicit 64-term left-associated sum — same
    * association order as the HOF fold and the DuckDB chain, so the
    * doubles stay bit-identical (this association order is load-bearing
    * for oracle parity; it lives HERE and nowhere else). Vector sides
    * are broadcast so the pair stream never shuffles (at 100 TB this
    * becomes a bucketed join on vec_id ranges instead).
    */
  private def withPairCosine(pairs: DataFrame, embeddings: DataFrame): DataFrame = {
    val prepped = embeddings.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ed"),
      sqrt(dotSelfCol(col("embedding"))).as("nrm"))
    val ea = prepped.select(col("vec_id").as("a_id"), col("ed").as("ea"), col("nrm").as("na"))
    val eb = prepped.select(col("vec_id").as("b_id"), col("ed").as("eb"), col("nrm").as("nb"))
    val dot = (0 until Dim).map(i => s"ea[$i]*eb[$i]").mkString("0D + ", " + ", "")
    pairs
      .join(broadcast(ea), "a_id")
      .join(broadcast(eb), "b_id")
      .withColumn("sim", expr(s"($dot) / nullif(na * nb, 0)"))
      .drop("ea", "eb", "na", "nb")
  }

  def lshNearDupPairsFromCands(
      cands: DataFrame,
      embeddings: DataFrame,
      threshold: Double): DataFrame =
    // verify cost dominates (candidate count is O(pairs-in-bucket²)
    // summed over the band buckets) — see withPairCosine for the
    // per-pair trimming
    withPairCosine(cands, embeddings)
      .filter(col("sim").isNotNull && col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
      .orderBy(col("a_id"), col("b_id"))

  /** Approximate k-NN JOIN: every vector's top-`k` most-similar OTHER
    * vectors among its sign-LSH band candidates — the all-vectors
    * generalization of the single-query ANN path, and the workhorse of
    * semantic dedup / diversity sampling (each doc gets its nearest
    * neighbors, not just pairs over a threshold).
    *
    * Candidates are the SAME single band equi-join as
    * [[lshNearDupPairsFrom]] (never all-pairs), symmetrized by a cheap
    * union so both endpoints of a pair see each other; ranking is a
    * row_number window PARTITIONED BY vec_id (per-vector state only —
    * the window never sees more rows than that vector's candidate
    * count, which band width bounds). Ties break on sim DESC then
    * neighbor id ASC over the UNROUNDED bit-identical double, so both
    * engines rank identically.
    */
  def knnJoinFrom(sig: DataFrame, embeddings: DataFrame, k: Int): DataFrame =
    knnJoinFromCands(bandCandidates(sig), embeddings, k)

  def knnJoinFromCands(cands: DataFrame, embeddings: DataFrame, k: Int): DataFrame = {
    val sym = cands.union(
      cands.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val perVec = Window.partitionBy(col("a_id")).orderBy(col("sim").desc, col("b_id"))
    withPairCosine(sym, embeddings)
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(perVec))
      .filter(col("rank") <= k)
      .select(
        col("a_id").as("vec_id"), col("rank").cast("long").as("rank"),
        col("b_id").as("neighbor"), round(col("sim"), 6).as("sim"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** DuckDB twin of [[knnJoinFrom]]: same candidates, same unrounded
    * ranking key. `rowsPerBand` selects the band geometry — the gate
    * entry replays the production (log₂ n)-scaled width as well as the
    * pinned reference width, so the scale dial stays oracle-checked.
    */
  def knnJoinSql(k: Int, rowsPerBand: Int = LshRowsPerBand): String = {
    val bands = (0 until LshBands)
      .map(b => s"${bandExpr(DuckDialect, "embedding", b, rowsPerBand)} AS band$b")
      .mkString(",\n  ")
    val cands = (0 until LshBands)
      .map(b =>
        s"SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM sig a JOIN sig b ON a.band$b = b.band$b AND a.vec_id < b.vec_id")
      .mkString("\n  UNION\n  ")
    s"""WITH sig AS (SELECT vec_id,\n  $bands\nFROM embeddings),
       |cand AS (\n  $cands\n),
       |sym AS (SELECT a_id, b_id FROM cand
       |        UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM cand),
       |v AS (
       |  SELECT s.a_id, s.b_id, ${cosinePair(DuckDialect, "ea.embedding", "eb.embedding")} AS sim
       |  FROM sym s
       |  JOIN embeddings ea ON ea.vec_id = s.a_id
       |  JOIN embeddings eb ON eb.vec_id = s.b_id),
       |r AS (
       |  SELECT a_id, b_id, sim,
       |         row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
       |  FROM v WHERE sim IS NOT NULL)
       |SELECT a_id AS vec_id, CAST(rank AS BIGINT) AS rank,
       |       b_id AS neighbor, round(sim, 6) AS sim
       |FROM r WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin
  }

  /** Semantic decontamination: train-split vectors suspiciously close to
    * an EVAL-split vector — the embedding-space counterpart of the
    * n-gram [[Decontamination]] (catches paraphrased/translated leakage
    * that exact grams miss). The eval split here is `label == 0` (in a
    * real pipeline: the held-out benchmark's embeddings).
    *
    * Cross-SET approximate join: band the two sides with the SAME
    * hyperplanes, equi-join on (band_idx, band_value) across sets (never
    * eval × train all-pairs; at 100 TB the small eval side's banded
    * frame is the broadcast side), then exact-verify candidates. One
    * output row per flagged (train, eval) pair.
    */
  def semanticDecontaminate(embeddings: DataFrame, threshold: Double): DataFrame = {
    val w = autoRowsPerBand(embeddings.count())
    semanticDecontaminateFromSig(lshBanded(embeddings, rowsPerBand = w), embeddings, threshold)
  }

  /** [[semanticDecontaminate]] over a precomputed (session-cached)
    * signature frame, so the 64 sign-plane sums are not re-derived for
    * each side of the cross-set join.
    */
  def semanticDecontaminateFromSig(
      sig: DataFrame,
      embeddings: DataFrame,
      threshold: Double): DataFrame = {
    val withLabel = sig.join(embeddings.select(col("vec_id"), col("label")), "vec_id")
    decontaminateSplit(withLabel, embeddings, threshold, col("label") === 0)
  }

  /** The cross-set band join + exact verify shared by the label-split
    * and pinned-eval decontamination shapes: `isEval` marks the eval
    * side over the (already label-joined, if needed) signature frame.
    */
  private def decontaminateSplit(
      sig: DataFrame,
      embeddings: DataFrame,
      threshold: Double,
      isEval: Column): DataFrame = {
    val banded = sig
      .select(
        col("vec_id"), isEval.as("is_eval"),
        posexplode(array((0 until LshBands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "bk")))
    val evalSide  = banded.filter(col("is_eval"))
      .select(col("vec_id").as("b_id"), col("band_idx"), col("bk"))
    val trainSide = banded.filter(!col("is_eval"))
      .select(col("vec_id").as("a_id"), col("band_idx"), col("bk"))
    val cands = trainSide
      .join(broadcast(evalSide), Seq("band_idx", "bk"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    withPairCosine(cands, embeddings)
      .filter(col("sim").isNotNull && col("sim") >= threshold)
      .select(
        col("a_id").as("train_id"), col("b_id").as("eval_id"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Eval-set size of the PRODUCTION decontamination shape: the held-out
    * benchmark is a FIXED set of vectors (the first `DecontamEvalCap`
    * vec_ids of the fixture stand in for it) while the train side is
    * the whole growing corpus — so measured cost growth is growth in
    * TRAIN data only, the linear-in-train claim made gateable (round-9
    * verdict #2: the 2.2×-at-10×-train measurement was prose; this
    * entry is the shape it measured).
    */
  val DecontamEvalCap = 100L

  /** [[semanticDecontaminate]] at the production shape: eval = the
    * pinned benchmark split (`vec_id < evalCap`, fixed across corpus
    * growth), train = everything else, band width auto-selected from
    * the corpus count. The small eval side's banded frame is broadcast;
    * candidates ≈ bands·|eval|·n/2^bits, and with bits ≈ log₂ n that is
    * ≈ bands·|eval| — CONSTANT per unit of train data.
    */
  def semanticDecontaminateProd(
      embeddings: DataFrame,
      threshold: Double,
      evalCap: Long = DecontamEvalCap): DataFrame = {
    val w = autoRowsPerBand(embeddings.count())
    semanticDecontaminateProdFromSig(
      lshBanded(embeddings, rowsPerBand = w), embeddings, threshold, evalCap)
  }

  def semanticDecontaminateProdFromSig(
      sig: DataFrame,
      embeddings: DataFrame,
      threshold: Double,
      evalCap: Long = DecontamEvalCap): DataFrame =
    decontaminateSplit(sig, embeddings, threshold, col("vec_id") < evalCap)

  /** DuckDB twin: same bands, same cross-set candidates, same verify.
    * `rowsPerBand` selects the band geometry (see [[knnJoinSql]]).
    */
  def semanticDecontaminateSql(
      threshold: Double,
      rowsPerBand: Int = LshRowsPerBand): String =
    decontaminateSplitSql(threshold, rowsPerBand, "label = 0", "label <> 0")

  /** DuckDB twin of [[semanticDecontaminateProdFromSig]]: pinned eval
    * split, same bands/candidates/verify.
    */
  def semanticDecontaminateProdSql(
      threshold: Double,
      rowsPerBand: Int,
      evalCap: Long = DecontamEvalCap): String =
    decontaminateSplitSql(
      threshold, rowsPerBand, s"vec_id < $evalCap", s"vec_id >= $evalCap")

  private def decontaminateSplitSql(
      threshold: Double,
      rowsPerBand: Int,
      evalPred: String,
      trainPred: String): String = {
    val bands = (0 until LshBands)
      .map(b => s"${bandExpr(DuckDialect, "embedding", b, rowsPerBand)} AS band$b")
      .mkString(",\n  ")
    val cands = (0 until LshBands)
      .map(b =>
        s"SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM tr a JOIN ev b ON a.band$b = b.band$b")
      .mkString("\n  UNION\n  ")
    s"""WITH sig AS (SELECT vec_id, label,\n  $bands\nFROM embeddings),
       |ev AS (SELECT * FROM sig WHERE $evalPred),
       |tr AS (SELECT * FROM sig WHERE $trainPred),
       |cand AS (\n  $cands\n),
       |v AS (
       |  SELECT c.a_id, c.b_id, ${cosinePair(DuckDialect, "ea.embedding", "eb.embedding")} AS sim
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.a_id
       |  JOIN embeddings eb ON eb.vec_id = c.b_id)
       |SELECT a_id AS train_id, b_id AS eval_id, round(sim, 6) AS sim FROM v
       |WHERE sim >= $threshold ORDER BY train_id, eval_id""".stripMargin
  }

  /** Persist the IVF index: embeddings written `partitionBy("bucket")`,
    * so a probe query's `filter(bucket === …)` becomes PARTITION PRUNING
    * at the file level — the at-scale layout where each executor reads
    * only its probed centroid partitions (1/C of the data for nprobe=1).
    */
  def writeIvfIndex(embeddings: DataFrame, path: String): Unit = {
    ivfAssignments(embeddings)
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(path)
  }

  /** Top-k probe against the persisted index: reads ONLY the query
    * bucket's partition (plus `nprobe−1` next-best buckets), exact
    * cosine inside.
    */
  def searchIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      k: Int,
      nprobe: Int = 1): DataFrame = {
    val sims = Centroids.map { c =>
      QueryVec.indices.foldLeft(0.0)((a, i) => a + QueryVec(i) * c(i))
    }
    val probed = sims.zipWithIndex.sortBy(-_._1).take(nprobe).map(_._2)
    spark.read
      .parquet(path)
      .filter(col("bucket").isin(probed: _*))
      .withColumn("sim", cosineToQueryCol(col("embedding")))
      .filter(col("sim").isNotNull) // zero-norm guard (see cosineToQuery)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("sim"), 6).as("sim"))
  }

  // ---- DuckDB oracle SQL --------------------------------------------

  // Rank-on-the-RAW-double convention (ADVICE r10, generalized from
  // adcTopKSql): ORDER BY/LIMIT run in the inner subquery over the
  // unrounded value and the outer presentation sort reads that raw
  // column — an outer `ORDER BY sim` would bind to the 6dp SELECT
  // alias in DuckDB while the Spark twin ranks on the raw double, a
  // latent k-boundary flake for two values <~5e-7 apart.
  def topKSql(k: Int): String =
    s"""SELECT vec_id, round(sim_raw, 6) AS sim FROM (
       |  SELECT vec_id, ${cosineToQuery(DuckDialect, "embedding")} AS sim_raw FROM embeddings
       |  ORDER BY sim_raw DESC, vec_id LIMIT $k)
       |ORDER BY sim_raw DESC, vec_id""".stripMargin

  def ivfBucketsSql: String = {
    val sims = Centroids.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS s$j" }
      .mkString(",\n  ")
    s"""WITH s AS (SELECT vec_id,\n  $sims\nFROM embeddings)
       |SELECT vec_id, ${bucketCase(Centroids.length)} AS bucket FROM s ORDER BY vec_id""".stripMargin
  }

  def ivfTopKSql(k: Int): String = ivfTopKProbedSql(k, 1)

  def ivfTopKProbedSql(k: Int, nprobe: Int): String = {
    val sims = Centroids.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS s$j" }
      .mkString(",\n  ")
    val probes = probedBuckets(nprobe).mkString(", ")
    s"""WITH s AS (SELECT vec_id, embedding,\n  $sims\nFROM embeddings),
       |b AS (SELECT vec_id, embedding, ${bucketCase(Centroids.length)} AS bucket FROM s)
       |SELECT vec_id, round(sim_raw, 6) AS sim FROM (
       |  SELECT vec_id, ${cosineToQuery(DuckDialect, "embedding")} AS sim_raw
       |  FROM b WHERE bucket IN ($probes)
       |  ORDER BY sim_raw DESC, vec_id LIMIT $k)
       |ORDER BY sim_raw DESC, vec_id""".stripMargin
  }

  /** [[ivfTopKProbedSql]] generalized to TRAINED centroid literals —
    * the oracle of the stored-index probe (`ann_ivf_stored`): DuckDB
    * recomputes assignment + probe + ranking from the raw embeddings,
    * so the Spark side's parquet round-trip and partition pruning must
    * be result-invisible. The probe IN-list comes from the same
    * [[probedBucketsFor]] both engines share.
    */
  /** `corpusWhere` restricts the replayed corpus (e.g. the deletion
    * gate's "everything except the erased ids") — empty = full corpus.
    */
  def ivfTopKTrainedSql(
      cents: Array[Array[Double]],
      k: Int,
      nprobe: Int,
      corpusWhere: String = ""): String = {
    val sims = cents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS s$j" }
      .mkString(",\n  ")
    val probes = probedBucketsFor(cents, nprobe).mkString(", ")
    val where = if (corpusWhere.isEmpty) "" else s" WHERE $corpusWhere"
    s"""WITH s AS (SELECT vec_id, embedding,\n  $sims\nFROM embeddings$where),
       |b AS (SELECT vec_id, embedding, ${bucketCase(cents.length)} AS bucket FROM s)
       |SELECT vec_id, round(sim_raw, 6) AS sim FROM (
       |  SELECT vec_id, ${cosineToQuery(DuckDialect, "embedding")} AS sim_raw
       |  FROM b WHERE bucket IN ($probes)
       |  ORDER BY sim_raw DESC, vec_id LIMIT $k)
       |ORDER BY sim_raw DESC, vec_id""".stripMargin
  }

  def lshNearDupSql(threshold: Double, rowsPerBand: Int = LshRowsPerBand): String = {
    val bands = (0 until LshBands)
      .map(b => s"${bandExpr(DuckDialect, "embedding", b, rowsPerBand)} AS band$b")
      .mkString(",\n  ")
    val cands = (0 until LshBands)
      .map(b =>
        s"SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM sig a JOIN sig b ON a.band$b = b.band$b AND a.vec_id < b.vec_id")
      .mkString("\n  UNION\n  ")
    s"""WITH sig AS (SELECT vec_id,\n  $bands\nFROM embeddings),
       |cand AS (\n  $cands\n),
       |v AS (
       |  SELECT c.a_id, c.b_id, ${cosinePair(DuckDialect, "ea.embedding", "eb.embedding")} AS sim
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.a_id
       |  JOIN embeddings eb ON eb.vec_id = c.b_id)
       |SELECT a_id, b_id, round(sim, 6) AS sim FROM v
       |WHERE sim >= $threshold ORDER BY a_id, b_id""".stripMargin
  }

  // ---- band-width recall certification --------------------------------

  /** Minimum acceptable recall of the WIDE (12-bit) band geometry on
    * planted near-duplicate pairs, in per-mille. The 12-bit width is
    * the measured sf1 configuration of the log₂(n) rule (PERF.md round
    * 6): at 10× the data it keeps per-vector candidate counts flat
    * where the pinned 8-bit width grew super-linearly. Its cost is the
    * per-bit agreement factor on TRUE near-dups (cos ≈ 0.97 → ~0.92
    * per bit → per-band hit 0.92¹² ≈ 0.37, eight bands ≈ 0.97 overall)
    * — this entry makes that trade oracle-visible with a recall floor
    * the wide geometry must clear on every gate run.
    */
  val LshWidthRecallFloorPermille = 700L

  /** Planted-twin corpus: every `PlantMod`-th vector gains a copy with
    * ONE dimension (vec_id mod Dim) negated — a genuine near-dup
    * (cos = 1 − 2·x_d²/‖x‖², ≈ 0.97 on these near-uniform embeddings).
    * Negation is EXACT in float arithmetic, so both engines construct
    * bit-identical twins and the LSH replay stays deterministic — the
    * gate corpus itself has no natural near-dups (max pair cos ≈ 0.47),
    * so recall on the pairs LSH is FOR has to be measured on planted
    * ones (the SimilaritySpec methodology, lifted into the oracle gate).
    */
  val PlantOffset = 1000000L
  val PlantMod = 5

  def plantedCorpus(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding")).unionAll(
      embeddings
        .filter(pmod(col("vec_id"), lit(PlantMod)) === 0)
        .select(
          (col("vec_id") + PlantOffset).as("vec_id"),
          expr(s"transform(embedding, (x, i) -> IF(CAST(i AS BIGINT) = pmod(vec_id, $Dim), -x, x))")
            .as("embedding")))

  /** One-row width-recall audit: the planted pair relation probed
    * against the band-candidate sets of BOTH widths —
    * `(n_planted, n_found_ref, n_found_wide, recall_ref_permille,
    * recall_wide_permille, certified)`, all-integer, so engine parity
    * is exact (the ann_recall pattern on LSH candidate generation).
    */
  def lshPlantedRecall(embeddings: DataFrame, wideRowsPerBand: Int): DataFrame = {
    val corpus = plantedCorpus(embeddings)
    val planted = corpus
      .filter(col("vec_id") >= lit(PlantOffset))
      .select((col("vec_id") - PlantOffset).as("a_id"), col("vec_id").as("b_id"))
    // presence flags via left joins (bandCandidates is distinct, so
    // multiplicity 1), ONE aggregation for all three counts — no
    // single-row cross join for the plan audit to flag
    def flagged(rowsPerBand: Int, out: String) =
      bandCandidates(lshBanded(corpus, rowsPerBand = rowsPerBand))
        .select(col("a_id"), col("b_id"), lit(1L).as(out))
    planted
      .join(flagged(LshRowsPerBand, "f_ref"), Seq("a_id", "b_id"), "left_outer")
      .join(flagged(wideRowsPerBand, "f_wide"), Seq("a_id", "b_id"), "left_outer")
      .agg(
        count(lit(1)).as("n_planted"),
        coalesce(sum(col("f_ref")), lit(0L)).as("n_found_ref"),
        coalesce(sum(col("f_wide")), lit(0L)).as("n_found_wide"))
      .withColumn(
        "recall_ref_permille",
        expr("n_found_ref * 1000 DIV greatest(n_planted, 1L)"))
      .withColumn(
        "recall_wide_permille",
        expr("n_found_wide * 1000 DIV greatest(n_planted, 1L)"))
      .withColumn("certified", col("recall_wide_permille") >= LshWidthRecallFloorPermille)
      .select(
        col("n_planted"), col("n_found_ref"), col("n_found_wide"),
        col("recall_ref_permille"), col("recall_wide_permille"), col("certified"))
  }

  /** DuckDB twin: replays the planted twins (exact float negation) and
    * BOTH band geometries through the shared dialect, then the same
    * integer recall arithmetic.
    */
  def lshPlantedRecallSql(wideRowsPerBand: Int): String = {
    val twinElems = (0 until Dim)
      .map(j => s"CASE WHEN vec_id % $Dim = $j THEN -embedding[${j + 1}] ELSE embedding[${j + 1}] END")
      .mkString("list_value(", ", ", ")")
    def sig(rowsPerBand: Int) = (0 until LshBands)
      .map(b => s"${bandExpr(DuckDialect, "embedding", b, rowsPerBand)} AS band$b")
      .mkString(",\n  ")
    def cand(sigName: String) = (0 until LshBands)
      .map(b =>
        s"SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM $sigName a JOIN $sigName b ON a.band$b = b.band$b AND a.vec_id < b.vec_id")
      .mkString("\n  UNION\n  ")
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantOffset AS vec_id, $twinElems AS embedding
       |  FROM embeddings WHERE vec_id % $PlantMod = 0),
       |planted AS (
       |  SELECT vec_id AS a_id, vec_id + $PlantOffset AS b_id
       |  FROM embeddings WHERE vec_id % $PlantMod = 0),
       |sigr AS (SELECT vec_id,\n  ${sig(LshRowsPerBand)}\nFROM corpus),
       |sigw AS (SELECT vec_id,\n  ${sig(wideRowsPerBand)}\nFROM corpus),
       |candr AS (\n  ${cand("sigr")}\n),
       |candw AS (\n  ${cand("sigw")}\n),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_planted FROM planted),
       |fr AS (SELECT CAST(count(*) AS BIGINT) AS n_found_ref FROM planted JOIN candr USING (a_id, b_id)),
       |fw AS (SELECT CAST(count(*) AS BIGINT) AS n_found_wide FROM planted JOIN candw USING (a_id, b_id))
       |SELECT n_planted, n_found_ref, n_found_wide,
       |  n_found_ref * 1000 // greatest(n_planted, 1) AS recall_ref_permille,
       |  n_found_wide * 1000 // greatest(n_planted, 1) AS recall_wide_permille,
       |  n_found_wide * 1000 // greatest(n_planted, 1) >= $LshWidthRecallFloorPermille AS certified
       |FROM np, fr, fw""".stripMargin
  }

  // ---- ANN recall certification ---------------------------------------

  /** Minimum acceptable recall@k of the IVF path vs brute force, in
    * per-mille. Multi-probe recall is bounded by how many true
    * neighbors land in the probed buckets (measured at nprobe=4:
    * 700–800‰ across sf0.001/0.01/0.1; single-probe managed only
    * 100–200‰ on these near-uniform embeddings) — this entry CERTIFIES
    * the approximate plan against the exact one on every gate run (the
    * sketch_certify pattern applied to ANN): if a centroid/bucketing
    * change silently drops recall below the floor, the driver hash gate
    * fails, because the oracle replays both paths exactly and both
    * engines compute `certified` from the same integer arithmetic.
    */
  val RecallFloorPermille = 500L

  /** One-row recall@k audit: `(k, n_exact, n_approx, n_overlap,
    * recall_permille, certified)` — all-integer, so engine parity is
    * exact. The two top-k frames are k rows each; everything after the
    * two scans is driver-scale.
    */
  def annRecall(embeddings: DataFrame, k: Int, nprobe: Int): DataFrame =
    annRecallFrom(ivfAssignments(embeddings), embeddings, k, nprobe)

  def annRecallFrom(
      assigned: DataFrame,
      embeddings: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    // ONE pass: full-outer join of the two k-row id sets with presence
    // flags, then a single aggregation computes all three counts — each
    // ranking's scan is evaluated exactly once (the earlier three
    // independent count branches re-ran both scans; the DuckDB twin had
    // the same shape and was its slowest anchor at 14.6 s).
    val exact  = topK(embeddings, k).select(col("vec_id"), lit(1L).as("e"))
    val approx = ivfTopKProbedFrom(assigned, k, nprobe)
      .select(col("vec_id"), lit(1L).as("a"))
    exact
      .join(approx, Seq("vec_id"), "full_outer")
      // outer coalesce: sum over an EMPTY input is NULL — an empty (or
      // all-zero-norm) corpus must report 0/0/0 and certified=false,
      // never a NULL row
      .agg(
        coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L)).as("n_exact"),
        coalesce(sum(coalesce(col("a"), lit(0L))), lit(0L)).as("n_approx"),
        coalesce(
          sum(when(col("e").isNotNull && col("a").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap"))
      .withColumn("k", lit(k.toLong))
      // denominator = |exact top-k|, not the literal k: on a corpus with
      // fewer than k vectors the approximate ranking can still be
      // perfect, and recall must read 1000, not |corpus|·1000/k
      .withColumn(
        "recall_permille",
        expr("n_overlap * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn("certified", col("recall_permille") >= RecallFloorPermille)
      .select(
        col("k"), col("n_exact"), col("n_approx"), col("n_overlap"),
        col("recall_permille"), col("certified"))
  }

  /** DuckDB twin: replays BOTH ranking paths via the shared dialect,
    * then the same integer recall arithmetic.
    */
  def annRecallSql(k: Int, nprobe: Int): String =
    s"""WITH exact AS (SELECT vec_id, 1 AS e FROM (${topKSql(k)})),
       |approx AS (SELECT vec_id, 1 AS a FROM (${ivfTopKProbedSql(k, nprobe)})),
       |f AS (SELECT e, a FROM exact FULL JOIN approx USING (vec_id)),
       |c AS (SELECT CAST(coalesce(sum(coalesce(e, 0)), 0) AS BIGINT) AS n_exact,
       |             CAST(coalesce(sum(coalesce(a, 0)), 0) AS BIGINT) AS n_approx,
       |             CAST(coalesce(sum(CASE WHEN e IS NOT NULL AND a IS NOT NULL
       |                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_overlap
       |      FROM f)
       |SELECT CAST($k AS BIGINT) AS k, n_exact, n_approx, n_overlap,
       |  n_overlap * 1000 // greatest(n_exact, 1) AS recall_permille,
       |  n_overlap * 1000 // greatest(n_exact, 1) >= $RecallFloorPermille AS certified
       |FROM c""".stripMargin

  // ---- trained-IVF recall certification -------------------------------

  /** Query-panel size for the trained-vs-fixed recall audit. Measured
    * panel recall at 12 queries (sf0.001/0.01/0.1): trained 165/175/162
    * vs fixed 149/154/150 of 240 — a stable margin where the
    * single-query comparison was a ±2-neighbor coin flip.
    */
  val PanelQueries = 12

  /** One-row recall@k audit of the TRAINED-centroid IVF index against
    * both the exact scan and the fixed-geometry index, aggregated over
    * the [[queryVec]] panel at the same probe budget:
    * `(k, n_queries, n_exact, n_overlap_fixed, n_overlap_trained,
    * recall_fixed_permille, recall_trained_permille, certified)` —
    * all-integer, so engine parity is exact. `certified` demands the
    * trained index CLEAR THE SAME FLOOR as the fixed one AND not lose
    * to it on the panel: training the quantizer on the corpus must
    * never make the index worse than the data-independent geometry it
    * replaces, at identical probe cost (nprobe/C of the data touched
    * either way). The panel runs 3·PanelQueries k-row rankings — an
    * audit, not a serving path; at 100 TB it runs on a sample.
    */
  def annRecallTrainedFrom(
      assignedFixed: DataFrame,
      assignedTrained: DataFrame,
      cents: Array[Array[Double]],
      embeddings: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    def tagged(frames: Seq[DataFrame], flag: String): DataFrame =
      frames.zipWithIndex
        .map { case (df, t) => df.select(lit(t).as("qid"), col("vec_id"), lit(1L).as(flag)) }
        .reduce(_ unionAll _)
    val qs = (0 until PanelQueries).map(queryVec)
    val exact = tagged(qs.map(q => topKFor(embeddings, k, q)), "e")
    val fixed = tagged(
      qs.map(q => probeTopK(assignedFixed, probedBucketsFor(Centroids, nprobe, q), k, q)),
      "a")
    val trained = tagged(
      qs.map(q => probeTopK(assignedTrained, probedBucketsFor(cents, nprobe, q), k, q)),
      "t")
    exact
      .join(fixed, Seq("qid", "vec_id"), "full_outer")
      .join(trained, Seq("qid", "vec_id"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L)).as("n_exact"),
        coalesce(
          sum(when(col("e").isNotNull && col("a").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap_fixed"),
        coalesce(
          sum(when(col("e").isNotNull && col("t").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap_trained"))
      .withColumn("k", lit(k.toLong))
      .withColumn("n_queries", lit(PanelQueries.toLong))
      .withColumn(
        "recall_fixed_permille",
        expr("n_overlap_fixed * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn(
        "recall_trained_permille",
        expr("n_overlap_trained * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn(
        "certified",
        col("recall_trained_permille") >= RecallFloorPermille &&
          col("recall_trained_permille") >= col("recall_fixed_permille"))
      .select(
        col("k"), col("n_queries"), col("n_exact"),
        col("n_overlap_fixed"), col("n_overlap_trained"),
        col("recall_fixed_permille"), col("recall_trained_permille"), col("certified"))
  }

  /** Argmax CASE over arbitrarily-named score columns (the
    * [[bucketCase]] shape with a column prefix — lets one frame carry
    * two geometries' scores side by side).
    */
  def bucketCaseNamed(prefix: String, n: Int): String = {
    val all = (0 until n).map(j => s"$prefix$j").mkString(", ")
    (0 until n)
      .map(j => s"WHEN $prefix$j >= greatest($all) THEN $j")
      .mkString("CASE ", " ", " END")
  }

  /** DuckDB twin of [[annRecallTrainedFrom]]: replays all 3·panel
    * ranking paths, then the same integer arithmetic (overlap =
    * inner-join count of the per-query k-row id sets — the same numbers
    * the Spark side's full-outer + presence-flag agg computes).
    *
    * Structure matters here: a first cut expanded the 64-term dot
    * chains inside EVERY per-query ranking subquery (36 of them) —
    * 890 KB of SQL whose binder took DuckDB to a 21 GB peak and left
    * the process unable to mmap afterwards. This version computes the
    * 16 centroid dots and [[PanelQueries]] query cosines ONCE in a
    * materialized CTE (one scan, ~30 scalar columns), and every
    * ranking is then a LIMIT-k sort over named columns — the same
    * share-the-scan shape the Spark side gets from its cached
    * assignment frames.
    */
  def annRecallTrainedSql(cents: Array[Array[Double]], k: Int, nprobe: Int): String = {
    val qs = (0 until PanelQueries).map(queryVec)
    val fixedSims = Centroids.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS sf$j" }
    val trainedSims = cents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS st$j" }
    val cosines = qs.zipWithIndex
      .map { case (q, t) => s"${cosineTo(DuckDialect, "embedding", q)} AS c$t" }
    val baseCols = (fixedSims ++ trainedSims ++ cosines).mkString(",\n  ")
    def rankUnion(mk: (Array[Double], Int) => String): String =
      qs.zipWithIndex
        .map { case (q, t) => s"SELECT $t AS qid, vec_id FROM (\n${mk(q, t)})" }
        .mkString("\n  UNION ALL\n  ")
    def exactSql(q: Array[Double], t: Int) =
      s"""SELECT vec_id FROM bk WHERE c$t IS NOT NULL
         |ORDER BY c$t DESC, vec_id LIMIT $k""".stripMargin
    def probeSql(prefix: String, geo: Array[Array[Double]])(q: Array[Double], t: Int) = {
      val probes = probedBucketsFor(geo, nprobe, q).mkString(", ")
      s"""SELECT vec_id FROM bk WHERE bucket_$prefix IN ($probes) AND c$t IS NOT NULL
         |ORDER BY c$t DESC, vec_id LIMIT $k""".stripMargin
    }
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id,\n  $baseCols\n  FROM embeddings),
       |bk AS MATERIALIZED (
       |  SELECT vec_id, ${bucketCaseNamed("sf", Centroids.length)} AS bucket_f,
       |         ${bucketCaseNamed("st", cents.length)} AS bucket_t,
       |         ${qs.indices.map(t => s"c$t").mkString(", ")}
       |  FROM base),
       |e AS (\n  ${rankUnion(exactSql)}\n),
       |f AS (\n  ${rankUnion(probeSql("f", Centroids))}\n),
       |r AS (\n  ${rankUnion(probeSql("t", cents))}\n),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e),
       |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap_fixed FROM e JOIN f USING (qid, vec_id)),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap_trained FROM e JOIN r USING (qid, vec_id))
       |SELECT CAST($k AS BIGINT) AS k, CAST($PanelQueries AS BIGINT) AS n_queries,
       |  n_exact, n_overlap_fixed, n_overlap_trained,
       |  n_overlap_fixed * 1000 // greatest(n_exact, 1) AS recall_fixed_permille,
       |  n_overlap_trained * 1000 // greatest(n_exact, 1) AS recall_trained_permille,
       |  (n_overlap_trained * 1000 // greatest(n_exact, 1) >= $RecallFloorPermille)
       |    AND (n_overlap_trained * 1000 // greatest(n_exact, 1)
       |         >= n_overlap_fixed * 1000 // greatest(n_exact, 1)) AS certified
       |FROM ne, nf, nt""".stripMargin
  }

  // ---- centroid-drift certificate (when does the index go stale?) -----

  /** Retrain trigger: the stored (stale-centroid) index must not trail a
    * fresh retrain by more than this many per-mille of panel recall@k.
    * Below the margin, serving the old index is fine (centroids are a
    * COARSE quantizer — cell boundaries move slowly under corpus
    * growth); at or past it, the corpus has drifted enough that the old
    * cells route probes away from where the new mass lives, and the
    * pipeline should retrain + re-bucket. 50‰ ≈ one lost neighbor per
    * k=20 query — chosen as the smallest gap the 12-query panel resolves
    * above its own ±1-neighbor noise floor (PanelQueries doc).
    */
  val DriftRetrainMarginPermille = 50L

  /** Staleness audit of a TRAINED index under corpus growth: panel
    * recall@k of the stale geometry (centroids trained on yesterday's
    * corpus, full corpus re-bucketed on them — exactly what an
    * incrementally-maintained store serves) vs a fresh retrain on
    * today's corpus, at the same probe budget. One row:
    * `(k, n_queries, n_exact, n_overlap_stale, n_overlap_fresh,
    * recall_stale_permille, recall_fresh_permille, retrain)` —
    * all-integer, engine-exact. `retrain` = stale trails fresh by more
    * than [[DriftRetrainMarginPermille]]. Same 3·panel ranking shape as
    * [[annRecallTrainedFrom]] — an audit run on a sample at 100 TB, not
    * a serving path.
    */
  def ivfDriftAudit(
      assignedStale: DataFrame,
      assignedFresh: DataFrame,
      staleCents: Array[Array[Double]],
      freshCents: Array[Array[Double]],
      embeddings: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    def tagged(frames: Seq[DataFrame], flag: String): DataFrame =
      frames.zipWithIndex
        .map { case (df, t) => df.select(lit(t).as("qid"), col("vec_id"), lit(1L).as(flag)) }
        .reduce(_ unionAll _)
    val qs = (0 until PanelQueries).map(queryVec)
    val exact = tagged(qs.map(q => topKFor(embeddings, k, q)), "e")
    val stale = tagged(
      qs.map(q => probeTopK(assignedStale, probedBucketsFor(staleCents, nprobe, q), k, q)),
      "s")
    val fresh = tagged(
      qs.map(q => probeTopK(assignedFresh, probedBucketsFor(freshCents, nprobe, q), k, q)),
      "f")
    exact
      .join(stale, Seq("qid", "vec_id"), "full_outer")
      .join(fresh, Seq("qid", "vec_id"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L)).as("n_exact"),
        coalesce(
          sum(when(col("e").isNotNull && col("s").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap_stale"),
        coalesce(
          sum(when(col("e").isNotNull && col("f").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_overlap_fresh"))
      .withColumn("k", lit(k.toLong))
      .withColumn("n_queries", lit(PanelQueries.toLong))
      .withColumn(
        "recall_stale_permille",
        expr("n_overlap_stale * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn(
        "recall_fresh_permille",
        expr("n_overlap_fresh * 1000 DIV greatest(n_exact, 1L)"))
      .withColumn(
        "retrain",
        col("recall_stale_permille") <
          col("recall_fresh_permille") - lit(DriftRetrainMarginPermille))
      .select(
        col("k"), col("n_queries"), col("n_exact"),
        col("n_overlap_stale"), col("n_overlap_fresh"),
        col("recall_stale_permille"), col("recall_fresh_permille"), col("retrain"))
  }

  /** DuckDB twin of [[ivfDriftAudit]]: both centroid sets reach the SQL
    * as literals (each side's table is produced by its own gate-
    * certified trainer), every ranking replayed from raw embeddings —
    * same share-the-scan structure as [[annRecallTrainedSql]].
    */
  def ivfDriftAuditSql(
      staleCents: Array[Array[Double]],
      freshCents: Array[Array[Double]],
      k: Int,
      nprobe: Int): String = {
    val qs = (0 until PanelQueries).map(queryVec)
    val staleSims = staleCents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS ss$j" }
    val freshSims = freshCents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS sn$j" }
    val cosines = qs.zipWithIndex
      .map { case (q, t) => s"${cosineTo(DuckDialect, "embedding", q)} AS c$t" }
    val baseCols = (staleSims ++ freshSims ++ cosines).mkString(",\n  ")
    def rankUnion(mk: (Array[Double], Int) => String): String =
      qs.zipWithIndex
        .map { case (q, t) => s"SELECT $t AS qid, vec_id FROM (\n${mk(q, t)})" }
        .mkString("\n  UNION ALL\n  ")
    def exactSql(q: Array[Double], t: Int) =
      s"""SELECT vec_id FROM bk WHERE c$t IS NOT NULL
         |ORDER BY c$t DESC, vec_id LIMIT $k""".stripMargin
    def probeSql(prefix: String, geo: Array[Array[Double]])(q: Array[Double], t: Int) = {
      val probes = probedBucketsFor(geo, nprobe, q).mkString(", ")
      s"""SELECT vec_id FROM bk WHERE bucket_$prefix IN ($probes) AND c$t IS NOT NULL
         |ORDER BY c$t DESC, vec_id LIMIT $k""".stripMargin
    }
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id,\n  $baseCols\n  FROM embeddings),
       |bk AS MATERIALIZED (
       |  SELECT vec_id, ${bucketCaseNamed("ss", staleCents.length)} AS bucket_s,
       |         ${bucketCaseNamed("sn", freshCents.length)} AS bucket_n,
       |         ${qs.indices.map(t => s"c$t").mkString(", ")}
       |  FROM base),
       |e AS (\n  ${rankUnion(exactSql)}\n),
       |s AS (\n  ${rankUnion(probeSql("s", staleCents))}\n),
       |n AS (\n  ${rankUnion(probeSql("n", freshCents))}\n),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap_stale FROM e JOIN s USING (qid, vec_id)),
       |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap_fresh FROM e JOIN n USING (qid, vec_id))
       |SELECT CAST($k AS BIGINT) AS k, CAST($PanelQueries AS BIGINT) AS n_queries,
       |  n_exact, n_overlap_stale, n_overlap_fresh,
       |  n_overlap_stale * 1000 // greatest(n_exact, 1) AS recall_stale_permille,
       |  n_overlap_fresh * 1000 // greatest(n_exact, 1) AS recall_fresh_permille,
       |  n_overlap_stale * 1000 // greatest(n_exact, 1)
       |    < n_overlap_fresh * 1000 // greatest(n_exact, 1) - $DriftRetrainMarginPermille AS retrain
       |FROM ne, ns, nf""".stripMargin
  }

  // ---- contrastive hard-negative mining -------------------------------

  /** Hard-negative mining for contrastive training: for each ANCHOR
    * (the pinned benchmark split `vec_id < cap` — the
    * [[semanticDecontaminateProd]] convention), the `k` most-cosine-
    * similar corpus vectors carrying a DIFFERENT label. "Similar but
    * differently labeled" is the textbook hard negative — the pair the
    * embedding model most needs to push apart — and mining them is a
    * standard corpus-scale preprocessing step for contrastive
    * finetuning.
    *
    * Plan shape: anchors are a BOUNDED broadcast side (cap rows); the
    * label-mismatch condition is turned into an EQUI-join by expanding
    * each anchor across the other labels (≤ cap·|labels| rows, still
    * broadcast — the distinct-labels list is a bounded collect) so the
    * plan is a BroadcastHashJoin on the label, never a
    * BroadcastNestedLoopJoin on an inequality (PlanAuditSpec bans
    * those). One narrow codegen cosine per candidate pair, then a
    * per-anchor top-k window: cost is O(cap · corpus/|labels| ·
    * (|labels|−1)) — linear in the corpus with a bounded constant. At
    * 100 TB the exact scan becomes the refine stage over an ANN
    * shortlist: [[graft.operators.Pq.ivfPqStoredTopKFromStores]]
    * already serves per-anchor candidates from the probed partitions,
    * and this operator's verify/rank shape is unchanged.
    */
  def hardNegatives(
      embeddings: DataFrame,
      k: Int,
      cap: Long = DecontamEvalCap): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val labels = embeddings.select(col("label").cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq // bounded: label vocab
    val anchors = embeddings
      .filter(col("vec_id") < cap)
      .select(
        col("vec_id").as("anchor_id"),
        col("label").cast("long").as("a_label"),
        col("embedding").as("a_emb"))
    // label mismatch as an EQUI-join: the bridge enumerates the ordered
    // label PAIRS (a, c) with a != c — vocab² rows, driver-built — so
    // both hops are BroadcastHashJoins (an inequality condition on the
    // single-column bridge would plan as the banned BNLJ)
    val bridge = (for { a <- labels; c <- labels if a != c } yield (a, c))
      .toDF("a_label", "c_label")
    // norms precomputed PER SIDE (100 + n rows), not per pair: the
    // naive per-pair cosinePair + isNotNull chain gets the full cosine
    // pushed into the join's residual condition and re-evaluated — dot
    // plus BOTH self-norms per candidate pair, measured ~2× the whole
    // query's cost at sf0.1. With side norms the pair cost is ONE
    // zip_with dot and the null guard is a cheap column product (same
    // doubles: sim = dot/(‖a‖·‖b‖) either way, nullif-0 identical)
    val expanded = anchors
      .join(broadcast(bridge), Seq("a_label"))
      .select(
        col("anchor_id"), col("a_emb"), col("c_label"),
        sqrt(dotSelfCol(col("a_emb"))).as("a_norm"))
    // fanOut: the per-pair cosine work lands on the CANDIDATE side's
    // scan tasks, and the single-row-group test parquet gives that scan
    // one split — the whole O(cap·corpus/|labels|·(|labels|−1)) cosine
    // stage ran on one task (measured 2.7 s vs 0.8 s fanned, identical
    // rows). At 100 TB the scan has thousands of splits and fanOut is
    // an inspected no-op (Tables.fanOut guard).
    val cands = graft.sources.Tables.fanOut(embeddings)
      .filter(col("vec_id") >= cap)
      .select(
        col("vec_id").as("neg_id"),
        col("label").cast("long").as("c_label"),
        col("embedding").as("c_emb"),
        sqrt(dotSelfCol(col("embedding"))).as("c_norm"))
    import org.apache.spark.sql.expressions.Window
    cands
      .join(broadcast(expanded), Seq("c_label"))
      .withColumn(
        "sim",
        expr(SparkDialect.dotPair("a_emb", "c_emb")) /
          nullif(col("a_norm") * col("c_norm"), lit(0d)))
      .filter(col("sim").isNotNull)
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("anchor_id")).orderBy(col("sim").desc, col("neg_id"))))
      .filter(col("rank") <= k)
      .select(
        col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), round(col("sim"), 6).as("sim"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** DuckDB twin of [[hardNegatives]]: same pinned split, the label
    * mismatch as a plain inequality join (DuckDB has no BNLJ ban to
    * dodge), the shared pair-cosine chain, ranking on the RAW double.
    */
  def hardNegativesSql(k: Int, cap: Long = DecontamEvalCap): String =
    s"""WITH a AS (
       |  SELECT vec_id AS anchor_id, label AS a_label, embedding AS a_emb
       |  FROM embeddings WHERE vec_id < $cap),
       |c AS (
       |  SELECT vec_id AS neg_id, label AS c_label, embedding AS c_emb
       |  FROM embeddings WHERE vec_id >= $cap),
       |p AS (
       |  SELECT anchor_id, neg_id, ${cosinePair(DuckDialect, "a_emb", "c_emb")} AS sim
       |  FROM a JOIN c ON a.a_label <> c.c_label),
       |r AS (
       |  SELECT anchor_id, neg_id, sim,
       |         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rank
       |  FROM p WHERE sim IS NOT NULL)
       |SELECT anchor_id, CAST(rank AS BIGINT) AS rank, neg_id, round(sim, 6) AS sim
       |FROM r WHERE rank <= $k ORDER BY anchor_id, rank""".stripMargin

  // ---- int8 scalar quantization ---------------------------------------

  /** Int8 scalar quantization audit — the embedding-compression step a
    * memory-bound ANN index runs before serving (4× smaller vectors,
    * distance in int arithmetic). Per-dimension corpus bounds `[mn_i,
    * mx_i]` map each value to `floor((x − mn_i)·256 / (mx_i − mn_i))`
    * clamped to [0, 255] (a constant dimension quantizes to 0).
    *
    * Plan shape: bounds are ONE posexplode + 64-group hash aggregation
    * (map-side combine shrinks the shuffle to 64 rows per task), packed
    * into two 64-element arrays and broadcast back onto the scan via a
    * non-foldable one-row key; the per-vector encode is a NARROW
    * `transform` + integer fold — no 64× row blowup ever reaches a
    * shuffle. The audit emits `(vec_id, n_dims, code_sum, code_min,
    * code_max)` — integer-only, so the only float op either engine
    * performs is the identical `(x−mn)·256/(mx−mn)` double expression,
    * and `floor` of bit-identical doubles can never drift.
    */
  def quantizeAudit(embeddings: DataFrame): DataFrame = {
    val bounds = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(
        min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    val packed = bounds
      .agg(sort_array(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("bnd"))
      .select(
        expr("transform(bnd, s -> s.mn)").as("mns"),
        expr("transform(bnd, s -> s.mx)").as("mxs"))
      .withColumn("one", CorpusSignals.one(size(col("mns"))))
    embeddings
      .withColumn("one", CorpusSignals.one(col("vec_id")))
      .join(broadcast(packed), "one")
      .withColumn(
        "codes",
        expr("""transform(embedding, (x, i) ->
          | CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1)
          |      THEN CAST(0 AS BIGINT)
          |      ELSE least(CAST(255 AS BIGINT),
          |        CAST(floor((CAST(x AS DOUBLE) - element_at(mns, i + 1)) * 256.0D
          |          / (element_at(mxs, i + 1) - element_at(mns, i + 1))) AS BIGINT))
          | END)""".stripMargin))
      .select(
        col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)").as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin: same bounds, same double expression, same floor/clamp;
    * the exploded+join formulation is equivalent because the audit
    * columns are order-independent integer folds.
    */
  val QuantizeAuditSql: String =
    """WITH d AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |bounds AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY 1),
      |codes AS (
      |  SELECT vec_id,
      |         CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
      |              ELSE least(CAST(255 AS BIGINT),
      |                CAST(floor((x - mn) * 256.0 / (mx - mn)) AS BIGINT))
      |         END AS c
      |  FROM d JOIN bounds USING (i))
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
      |       CAST(sum(c) AS BIGINT) AS code_sum,
      |       min(c) AS code_min, max(c) AS code_max
      |FROM codes GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- per-dimension distribution audit -------------------------------

  /** Per-dimension distribution audit over the embedding column: count,
    * mean, sample stddev, min, max for each of the [[Dim]] dimensions —
    * the drift check run when a new embedding batch arrives (a dimension
    * whose mean/σ shifts against the index's training distribution
    * invalidates the IVF centroids and the LSH planes). One explode into
    * a Dim-sized hash agg; map-side combinable, output is [[Dim]] rows
    * at any corpus size.
    */
  def embeddingDimStats(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast("double"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("xd")), 6).as("mean"),
        round(stddev_samp(col("xd")), 6).as("std"),
        round(min(col("xd")), 6).as("lo"),
        round(max(col("xd")), 6).as("hi"))
      .orderBy(col("dim"))

  /** DuckDB twin — generate_subscripts is 1-based, posexplode 0-based. */
  val EmbeddingDimStatsSql: String =
    """WITH e AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |SELECT dim, count(*) AS n, round(avg(x), 6) AS mean,
      |       round(stddev_samp(x), 6) AS std,
      |       round(min(x), 6) AS lo, round(max(x), 6) AS hi
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- feature standardization + correlation audits ---------------------

  /** Per-dimension z-scores for the pinned id panel, standardized with
    * CORPUS statistics computed in-plan (one per-dim aggregate broadcast
    * back onto the panel rows — the feature-scaling step a training
    * pipeline runs before any distance-based model). Long format
    * (vec_id, dim, z); means/stds are cross-row sums whose ~1e-15
    * engine-order noise is absorbed by the 6 dp rounding, so raw z
    * VALUES are gate-safe (unlike eigenvector coordinates — see Pca).
    */
  def standardizeAudit(emb: DataFrame, maxVecId: Long, dims: Int = 8): DataFrame = {
    val vals = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .filter(col("dim") < dims)
      .withColumn("xd", col("x").cast("double"))
    val stats = vals
      .groupBy(col("dim"))
      .agg(avg(col("xd")).as("mu"), stddev_samp(col("xd")).as("sigma"))
    vals
      .filter(col("vec_id") < maxVecId)
      .join(broadcast(stats), Seq("dim"))
      .select(
        col("vec_id"),
        col("dim").cast("int").as("dim"),
        (round((col("xd") - col("mu")) / nullif(col("sigma"), lit(0d)), 6) + lit(0d))
          .as("z"))
      .orderBy(col("vec_id"), col("dim"))
  }

  def standardizeAuditSql(maxVecId: Long, dims: Int = 8): String =
    s"""WITH e AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |v AS (SELECT vec_id, dim, x FROM e WHERE dim < $dims),
       |s AS (SELECT dim, avg(x) AS mu, stddev_samp(x) AS sigma FROM v GROUP BY dim)
       |SELECT v.vec_id, CAST(v.dim AS INTEGER) AS dim,
       |       round((v.x - s.mu) / nullif(s.sigma, 0), 6) + 0 AS z
       |FROM v JOIN s ON v.dim = s.dim
       |WHERE v.vec_id < $maxVecId
       |ORDER BY v.vec_id, v.dim""".stripMargin

  /** Pairwise Pearson correlation of the first `dims` embedding
    * dimensions — the feature-redundancy audit (a highly-correlated
    * pair is a candidate for dropping before distance models; on this
    * corpus the off-diagonals certify near-independence). ONE wide
    * aggregate of dims(dims+1)/2 `corr` states over a narrow
    * projection, unpivoted in-plan; both engines compute textbook
    * sample correlation, order noise absorbed at 6 dp.
    */
  def dimCorrelation(emb: DataFrame, dims: Int = 8): DataFrame = {
    val pairsIdx = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val proj = emb.select(
      (0 until dims).map(i =>
        element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
    val aggs = pairsIdx.map { case (i, j) =>
      (round(corr(col(s"x$i"), col(s"x$j")), 6) + lit(0d)).as(s"c_${i}_$j")
    }
    val stackArgs = pairsIdx.map { case (i, j) => s"$i, $j, c_${i}_$j" }.mkString(", ")
    proj
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${pairsIdx.size}, $stackArgs) AS (i, j, corr_v)")
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"), col("corr_v"))
      .orderBy(col("i"), col("j"))
  }

  def dimCorrelationSql(dims: Int = 8): String = {
    val pairsIdx = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val cols = (0 until dims)
      .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) AS x$i")
      .mkString(",\n  ")
    val sums = pairsIdx
      .map { case (i, j) => s"round(corr(x$i, x$j), 6) + 0 AS c_${i}_$j" }
      .mkString(",\n  ")
    val rows = pairsIdx.map { case (i, j) =>
      s"SELECT CAST($i AS INTEGER) AS i, CAST($j AS INTEGER) AS j, c_${i}_$j AS corr_v FROM a"
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS (SELECT
       |  $cols
       |FROM embeddings),
       |a AS (SELECT
       |  $sums
       |FROM p)
       |SELECT i, j, corr_v FROM (
       |$rows
       |) ORDER BY i, j""".stripMargin
  }

  // ---- per-label centroid cohesion ------------------------------------

  /** Cluster-cohesion report per label: the label's centroid (dimension-
    * wise mean) and each member's cosine to it, reported as the label's
    * mean member-to-centroid cosine. The quality check run after any
    * clustering/labeling step — a label whose members don't point at
    * their own centroid is noise, not a cluster.
    *
    * Plan shape: the centroid build is the ONLY explode (64·n rows into
    * a labels×dims hash agg — map-side combinable, output tiny); the
    * per-member cosine is then a NARROW per-row fold against the
    * label's centroid array, joined back by label (broadcast — the
    * centroid table is labels-sized at any corpus scale). Association
    * order of the fold is the shared left-fold [[Dialect]] contract, so
    * both engines chain the same IEEE ops; the centroid values
    * themselves are cross-row averages (order-dependent at ~1e-15),
    * absorbed by the 6 dp rounding.
    */
  def labelCentroidCos(emb: DataFrame): DataFrame = {
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x").cast("double")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), s -> s.c)").as("cent"))
    emb
      .join(broadcast(cent), "label")
      .withColumn("cos", expr(cosinePair(SparkDialect, "embedding", "cent")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("cos")), 6).as("avg_cos"))
      .orderBy(col("label"))
  }

  val LabelCentroidCosSql: String =
    s"""WITH e AS (
       |  SELECT label, generate_subscripts(embedding, 1) AS dim,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |cd AS (SELECT label, dim, avg(x) AS c FROM e GROUP BY 1, 2),
       |ct AS (SELECT label, list(c ORDER BY dim) AS cent FROM cd GROUP BY 1)
       |SELECT emb.label, count(*) AS n_vecs,
       |       round(avg(${cosinePair(DuckDialect, "embedding", "cent")}), 6) AS avg_cos
       |FROM embeddings emb JOIN ct USING (label)
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
