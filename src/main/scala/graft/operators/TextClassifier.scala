package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based corpus filtering: distributed training of a logistic-
  * regression classifier over surface text features — the CCNet /
  * fastText-style "train a quality filter, score every document" stage
  * of an LLM data pipeline, here with the TRAINING loop itself
  * expressed as Spark aggregations (no MLlib, no UDFs).
  *
  * The task is DISTILLATION: the label is the expensive tokenizing
  * quality labeler ([[TextAnalysis.qualityScore]] ≥ 0.5 — array-expr
  * tokenize + stopword membership per doc). Two feature spaces are
  * trained:
  *
  *   - CHAR-RATIO (5 features): bias + length + three character
  *     ratios. Scoring needs NO tokenization at all — the cheapest
  *     possible serving path (a handful of `translate`-diffs per doc).
  *   - HASHED-TOKEN (18 features): bias + capped token count + the 16
  *     per-token hash-bucket frequencies of the SERVING scorer
  *     ([[TextAnalysis.classifierScore]]'s md5-first-hex buckets) — at
  *     100 TB you deploy the feature space you trained, and this is
  *     that space: the trained weights drop into the same per-token
  *     weight-lookup plan the fixture-weight scorer runs. Stopwords
  *     hash to fixed buckets, so the label's stopword-ratio term is
  *     directly expressible — measured agreement with the labeler is
  *     ~12 points higher than the char-ratio model (classifier_compare
  *     gates the comparison).
  *
  * Scale shape (the kmeansCentroids contract): the data never leaves
  * the executors. Each full-batch gradient-descent iteration is ONE
  * scan of the cached feature frame — a narrow codegen projection
  * (sigmoid of a dim-term dot product with the current weights folded
  * in as literals) followed by one partial+final hash aggregation of
  * the dim gradient components + count. Only (dim+1) doubles reach the
  * driver per iteration, independent of corpus size.
  *
  * Determinism/oracle design: features are integer counts over ratios —
  * exactly reproducible by the pure-Scala [[TextClassifierRef]]; the
  * dot product and sigmoid evaluate in the same literal order in both
  * implementations, and the weight vector is QUANTIZED to 6 dp after
  * every iteration on both sides (the kmeansTrace argument: summation-
  * order divergence across partitions is re-zeroed each step instead of
  * compounding across iterations with partition count).
  */
object TextClassifier {

  /** Feature names, in weight-vector order. x0 is the bias. `len_k`
    * (chars/1000, capped at 1) is the load-bearing feature for the
    * corpus at hand — the quality label's coverage term is token
    * count, which length proxies; the char ratios carry the stopword
    * term's (weak) surface signal.
    */
  val FeatureNames: Seq[String] =
    Seq("bias", "len_k", "space_ratio", "e_ratio", "a_ratio")

  val Dim: Int = FeatureNames.length

  /** Hashed-token feature names: bias, capped-token-count, then one
    * frequency per md5-first-hex bucket — the serving scorer's space.
    */
  val HashedFeatureNames: Seq[String] =
    Seq("bias", "tok_k") ++ (0 until 16).map(h => f"h_$h%02d")

  val HashedDim: Int = HashedFeatureNames.length

  /** Count occurrences of `ch` via translate-diff — a codegen builtin
    * chain with an exact pure-Scala twin (counting code points).
    */
  private def charCount(text: Column, ch: String): Column =
    length(text) - length(translate(text, ch, ""))

  /** A document has ≥1 token iff it has ≥1 char outside Java's \s
    * class, spelled as an EXPLICIT char class so the DuckDB twin (RE2
    * \s excludes \x0B where Java's includes it) matches byte-for-byte.
    * This is the SCORING-path row filter: it replaces the tokenizing
    * `size(tokens) > 0` check with a single regex probe, so deployed
    * char-ratio scoring never pays the tokenizer it distilled away.
    */
  private[graft] val NonWsClass = "[^ \\t\\n\\u000B\\f\\r]"
  private[graft] val NonWsClassSql = raw"[^ \t\n\x0B\f\r]"

  private def charFeatureCols: Seq[Column] = {
    val len = length(col("text")).cast("double")
    Seq(
      lit(1.0).as("x0"),
      (least(len, lit(1000.0)) / lit(1000.0)).as("x1"),
      (charCount(col("text"), " ").cast("double") / len).as("x2"),
      (charCount(col("text"), "e").cast("double") / len).as("x3"),
      (charCount(col("text"), "a").cast("double") / len).as("x4"))
  }

  /** (doc_id, y, x0..x4): label = UNROUNDED quality ≥ 0.5 (integer-
    * derived doubles — bit-identical in the pure-Scala ref, so the
    * threshold has no engine-dependent knife edge), features = bias +
    * per-char ratios. Docs with no tokens (NULL quality) and empty
    * docs are dropped rather than poisoning the gradient.
    */
  def labeledFeatures(docs: DataFrame): DataFrame =
    withLabel(docs).select(col("doc_id") +: col("y") +: charFeatureCols: _*)

  /** (doc_id, toks, nt, y ...) — the labeler core shared by both
    * feature spaces: tokenize once, label once.
    */
  private def withLabel(docs: DataFrame): DataFrame = {
    val stopArr = TextAnalysis.StopWords.map(w => s"'$w'").mkString("array(", ", ", ")")
    docs
      .filter(length(col("text")) > 0)
      .withColumn("toks", expr(Dedup.TokensExpr))
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") > 0)
      .withColumn("nstop", size(expr(s"filter(toks, x -> array_contains($stopArr, x))")))
      .withColumn(
        "y",
        (least(col("nt"), lit(100)).cast("double") / lit(100.0) *
          (lit(1.0) - col("nstop").cast("double") / col("nt").cast("double")) >= 0.5)
          .cast("double"))
  }

  /** Per-token hash-bucket index array: the SERVING scorer's feature
    * hash (md5 first hex digit → 0..15), one md5 per token.
    */
  private val HashIdxExpr =
    "transform(toks, t -> locate(substring(md5(t), 1, 1), '0123456789abcdef') - 1)"

  /** Per-bucket token counts folded NARROW (16 adds per token, no
    * explode, no shuffle) — `cnt[h]` = tokens hashing to bucket h.
    */
  private val HashCountsExpr =
    s"""aggregate($HashIdxExpr, array_repeat(CAST(0 AS BIGINT), 16),
       | (acc, h) -> transform(acc, (c, i) -> c + IF(h = i, CAST(1 AS BIGINT), CAST(0 AS BIGINT))))"""
      .stripMargin

  /** (doc_id, y, x0..x17): the hashed-token feature frame. x1 is the
    * capped token count (the label's coverage term — the 16 bucket
    * FREQUENCIES sum to 1 and carry no length signal on their own);
    * x2..x17 are integer-count ratios, bit-identical in the ref.
    */
  def hashedLabeledFeatures(docs: DataFrame): DataFrame = {
    val cnts = (0 until 16).map(h =>
      (element_at(col("hc"), h + 1).cast("double") / col("nt").cast("double"))
        .as(s"x${h + 2}"))
    withLabel(docs)
      .withColumn("hc", expr(HashCountsExpr))
      .select(
        col("doc_id") +: col("y") +: lit(1.0).as("x0") +:
          (least(col("nt"), lit(100)).cast("double") / lit(100.0)).as("x1") +:
          cnts: _*)
  }

  /** σ(clamp(w·x)) with the weights folded in as literals. The clamp
    * (±30) keeps log(p) finite in the loss on both engines; at |z|=30
    * the sigmoid is within 1e-13 of its limit so the clamp never
    * changes a rounded result, only prevents -inf.
    */
  private def pCol(w: Array[Double]): Column = {
    val z = (1 until w.length).foldLeft(lit(w(0)) * col("x0"): Column) { (acc, i) =>
      acc + lit(w(i)) * col(s"x$i")
    }
    val zc = least(greatest(z, lit(-30.0)), lit(30.0))
    lit(1.0) / (lit(1.0) + exp(-zc))
  }

  /** `iters` full-batch GD steps from w=0 at fixed `lr`; returns the
    * final weights. The weight vector is round6-QUANTIZED after every
    * step (both sides — see the object doc). The feature frame should
    * be cached by the caller when `iters > 1` (SparkEntry does).
    */
  def trainLogReg(feats: DataFrame, iters: Int, lr: Double, dim: Int = Dim): Array[Double] = {
    var w = new Array[Double](dim)
    for (_ <- 0 until iters) {
      val p = pCol(w)
      val gradAggs = (0 until dim).map(i => sum((p - col("y")) * col(s"x$i")).as(s"g$i"))
      val row = feats.agg(gradAggs.head, gradAggs.tail :+ count(lit(1)).as("n"): _*).head()
      val n = row.getLong(dim).toDouble
      w = Array.tabulate(dim)(i => Similarity.round6(w(i) - lr / n * row.getDouble(i)))
    }
    w
  }

  /** Mean log-loss of `w` over the feature frame — the smooth training
    * metric (no decision threshold, so no knife-edge rows).
    */
  def logLoss(feats: DataFrame, w: Array[Double]): Double = {
    val p = pCol(w)
    val ll = -(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p))
    val row = feats.agg(sum(ll).as("s"), count(lit(1)).as("n")).head()
    row.getDouble(0) / row.getLong(1)
  }

  /** Score the corpus with a trained (6dp-rounded) CHAR-RATIO weight
    * vector — the 100 TB path: training runs on a sample, THIS narrow
    * codegen projection runs on everything, and it tokenizes NOTHING
    * (the row filter is the [[NonWsClass]] regex probe, equivalent to
    * `size(tokens) > 0` by construction). The emitted score is the
    * LINEAR z = w·x (monotone in the probability; keep ⟺ z ≥ 0 ⟺
    * σ(z) ≥ ½): multiply/add only, so the DuckDB twin is bit-identical
    * — `exp` in a cross-engine oracle would hang correctness on libm
    * rounding. Weights arrive ROUNDED so both engines score with
    * exactly the same literals.
    */
  def scoreTable(docs: DataFrame, w: Array[Double]): DataFrame =
    scoreUnordered(docs, w).orderBy(col("doc_id"))

  /** [[scoreTable]] without the presentation sort — a pure stateless
    * projection, legal on a STREAMING frame (append mode, no state
    * store): the "deploy the trained filter at ingest" path.
    */
  def scoreUnordered(docs: DataFrame, w: Array[Double]): DataFrame = {
    require(w.length == Dim, s"need $Dim weights, got ${w.length}")
    val feats = docs
      .filter(length(col("text")) > 0 && col("text").rlike(NonWsClass))
      .select(col("doc_id") +: charFeatureCols: _*)
    val z = (1 until Dim).foldLeft(lit(w(0)) * col("x0"): Column) { (acc, i) =>
      acc + lit(w(i)) * col(s"x$i")
    }
    feats.select(col("doc_id"), round(z, 6).as("z"), (z >= 0.0).as("keep"))
  }

  /** Active-learning margin sampling: the k docs the trained filter is
    * LEAST sure about (|z| smallest ⟺ σ(z) nearest ½) — the labeling
    * queue for the next annotation round, the loop that actually
    * improves a quality classifier at 100 TB (annotate where the model
    * is uncertain, not uniformly). Plan = the serving projection of
    * [[scoreUnordered]] plus one global top-k on a ROUNDED key
    * (TakeOrderedAndProject — k rows cross the wire, never the corpus),
    * ties broken by doc_id so both engines cut the same boundary.
    */
  def uncertaintySample(docs: DataFrame, w: Array[Double], k: Int): DataFrame =
    scoreUnordered(docs, w)
      .select(col("doc_id"), col("z"), round(abs(col("z")), 6).as("margin"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(k)

  /** Score with trained HASHED-space weights — the serving plan of
    * [[TextAnalysis.classifierScore]] (per-token hash → weight), here
    * with weights the distillation actually produced. Tokenization is
    * inherent to this space (the features are token-bucket counts);
    * the cheap-filter trade lives in the char-ratio scorer above.
    */
  def hashedScoreTable(docs: DataFrame, w: Array[Double]): DataFrame =
    hashedScoreUnordered(docs, w).orderBy(col("doc_id"))

  /** [[hashedScoreTable]] without the presentation sort — like
    * [[scoreUnordered]], a pure stateless projection (per-row hash
    * counts are an expression, not an explode+agg), so the hashed
    * serving plan deploys on a STREAMING frame in append mode with no
    * state store: the trained-in-serving-space model at ingest.
    */
  def hashedScoreUnordered(docs: DataFrame, w: Array[Double]): DataFrame = {
    require(w.length == HashedDim, s"need $HashedDim weights, got ${w.length}")
    val stop = docs
      .filter(length(col("text")) > 0)
      .withColumn("toks", expr(Dedup.TokensExpr))
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") > 0)
      .withColumn("hc", expr(HashCountsExpr))
    val x1 = least(col("nt"), lit(100)).cast("double") / lit(100.0)
    val z = (0 until 16).foldLeft(lit(w(0)) + lit(w(1)) * x1: Column) { (acc, h) =>
      acc + lit(w(h + 2)) *
        (element_at(col("hc"), h + 1).cast("double") / col("nt").cast("double"))
    }
    stop.select(col("doc_id"), round(z, 6).as("z"), (z >= 0.0).as("keep"))
  }

  /** Gate surface: (term, value·6dp) — the trained weights plus the
    * final mean log-loss, long format like kmeans_centroids.
    */
  private def trainTableFor(
      spark: org.apache.spark.sql.SparkSession,
      feats: DataFrame,
      names: Seq[String],
      iters: Int,
      lr: Double): DataFrame = {
    import spark.implicits._
    val cached = feats.cache()
    try {
      val w = trainLogReg(cached, iters, lr, names.length)
      val loss = logLoss(cached, w)
      (names.zip(w.toSeq) :+ ("log_loss" -> Similarity.round6(loss)))
        .toDF("term", "value")
        .orderBy(col("term"))
    } finally cached.unpersist()
  }

  def trainTable(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      iters: Int,
      lr: Double): DataFrame =
    trainTableFor(spark, labeledFeatures(docs), FeatureNames, iters, lr)

  def hashedTrainTable(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      iters: Int,
      lr: Double): DataFrame =
    trainTableFor(spark, hashedLabeledFeatures(docs), HashedFeatureNames, iters, lr)

  /** One-row accuracy-vs-labeler audit of BOTH trained models: for
    * every labeled doc, does each model's keep decision (z ≥ 0, exact
    * literal arithmetic on both engines) agree with the quality label?
    * `(n_docs, n_agree_char, n_agree_hashed, acc_char_permille,
    * acc_hashed_permille, hashed_wins)` — all-integer, the ann_ivf_
    * trained pattern: the feature-space upgrade is certified by the
    * gate hash, not claimed in prose.
    */
  def compareTable(
      docs: DataFrame,
      wChar: Array[Double],
      wHashed: Array[Double]): DataFrame = {
    require(wChar.length == Dim && wHashed.length == HashedDim)
    val base = withLabel(docs).withColumn("hc", expr(HashCountsExpr))
    val len = length(col("text")).cast("double")
    val charX = Seq(
      lit(1.0),
      least(len, lit(1000.0)) / lit(1000.0),
      charCount(col("text"), " ").cast("double") / len,
      charCount(col("text"), "e").cast("double") / len,
      charCount(col("text"), "a").cast("double") / len)
    val zChar = (1 until Dim).foldLeft(lit(wChar(0)) * charX(0): Column) { (acc, i) =>
      acc + lit(wChar(i)) * charX(i)
    }
    val x1 = least(col("nt"), lit(100)).cast("double") / lit(100.0)
    val zHashed = (0 until 16).foldLeft(lit(wHashed(0)) + lit(wHashed(1)) * x1: Column) {
      (acc, h) =>
        acc + lit(wHashed(h + 2)) *
          (element_at(col("hc"), h + 1).cast("double") / col("nt").cast("double"))
    }
    base
      .select(
        col("y"),
        (zChar >= 0.0).cast("double").as("kc"),
        (zHashed >= 0.0).cast("double").as("kh"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("kc") === col("y"), 1L).otherwise(0L)), lit(0L))
          .as("n_agree_char"),
        coalesce(sum(when(col("kh") === col("y"), 1L).otherwise(0L)), lit(0L))
          .as("n_agree_hashed"))
      .withColumn(
        "acc_char_permille",
        expr("n_agree_char * 1000 DIV greatest(n_docs, 1L)"))
      .withColumn(
        "acc_hashed_permille",
        expr("n_agree_hashed * 1000 DIV greatest(n_docs, 1L)"))
      .withColumn("hashed_wins", col("acc_hashed_permille") >= col("acc_char_permille"))
      .select(
        col("n_docs"), col("n_agree_char"), col("n_agree_hashed"),
        col("acc_char_permille"), col("acc_hashed_permille"), col("hashed_wins"))
  }
}
