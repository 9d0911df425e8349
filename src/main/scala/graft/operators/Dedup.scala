package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact (content hash), MinHash+LSH (banded signatures, bucketed join),
  * SimHash, and n-gram Jaccard via a shingle equi-join.
  *
  * Scale rules baked in (the VERDICT's non-negotiables):
  *   - candidate pairs ONLY from equi-joins on shingles/bands/buckets —
  *     no crossJoin anywhere;
  *   - signatures are fixed-width per doc (shuffle carries O(docs),
  *     not O(docs²));
  *   - the exact-verify step touches candidates only.
  *
  * Hash choice: one family per operator. MinHash-LSH hashes with
  * `xxhash64` (codegen'd); its oracle is the pure-Scala [[MinHashRef]]
  * (VALUES literals). SimHash votes on `md5` bits, which DuckDB replays
  * verbatim ([[simhash64Sql]]).
  */
object Dedup {

  /** Whitespace tokens, empties dropped (dialect-shared definition:
    * DuckDB `list_filter(string_split_regex(text,'\s+'), x -> x <> '')`).
    */
  val TokensExpr = "filter(split(text, '\\\\s+'), x -> x != '')"

  def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(TokensExpr))

  /** Word n-gram shingles (distinct), docs shorter than n dropped. */
  def withShingles(docs: DataFrame, n: Int): DataFrame =
    withTokens(docs)
      .filter(size(col("toks")) >= n)
      .withColumn(
        "shingles",
        expr(
          s"array_distinct(transform(sequence(0, size(toks) - $n), i -> " +
            s"array_join(slice(toks, i + 1, $n), ' ')))"))

  /** `(doc_id, shingles)` — the shared input of the whole minhash/Jaccard
    * family. Tokenizing + shingling the corpus is the dominant narrow
    * cost; SparkEntry builds this ONCE per (session, sf) and persists it,
    * so sig/pairs/lsh/ngram entries all read the cache instead of
    * re-scanning the text (round-2 bench spent ~⅔ of the dedup family on
    * exactly this recompute).
    */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    withShingles(graft.sources.Tables.fanOut(docs), n)
      .select(col("doc_id"), col("shingles"))

  private def explodeShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("shingles")).as("s"))

  // ---- exact dedup ---------------------------------------------------

  /** Exact dedup: keep the smallest doc_id per content hash. One
    * groupBy on the hash — at 100 TB the shuffle carries (hash, id)
    * pairs only, never the text.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  val ExactSql: String =
    "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY 1"

  // ---- MinHash + LSH (xxhash64 production path) ----------------------

  /** Near-duplicate pairs: k xxhash64 min-hashes per doc, banded into
    * `bands` buckets; candidates = pairs sharing ≥1 band bucket
    * (equi-join on (band, bucket-hash)); verified with exact shingle
    * Jaccard ≥ `threshold`.
    */
  def minhashLshPairs(
      docs: DataFrame,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    val sh = shingleSets(docs, n)
    minhashLshPairsFrom(xxSignature(sh, k), sh, k, bands, threshold)
  }

  /** xxhash64 MinHash signature columns m0..m{k-1} (codegen'd). */
  def xxSignature(sh: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"m$i"))
    explodeShingles(sh).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashLshPairs]] over a precomputed (cached) signature and
    * shingle frame.
    */
  def minhashLshPairsFrom(
      sig: DataFrame,
      sh: DataFrame,
      k: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val banded = (0 until bands).foldLeft(sig) { (df, b) =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"m$i"))
      df.withColumn(s"band$b", xxhash64(lit(b) +: cols: _*))
    }
    // ONE self-equi-join on (band_idx, band_value) over the posexploded
    // band frame — the per-band join union re-evaluated the signature
    // subtree up to 2×bands times (same collapse as the embedding-LSH
    // candidate join); a pair is a candidate iff it agrees on ≥1 band,
    // identical semantics
    val bandedL = banded.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "bk")))
    val cands = bandedL.as("a")
      .join(
        bandedL.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(sh, cands, threshold)
  }

  /** Exact shingle-set Jaccard for candidate pairs only, over a
    * precomputed `(doc_id, shingles)` frame.
    */
  private def verifyJaccard(
      sh: DataFrame,
      cands: DataFrame,
      threshold: Double): DataFrame = {
    val a = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
    cands
      .join(a, "a_id")
      .join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn(
        "jac",
        col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- n-gram Jaccard via shingle equi-join (oracle-checkable) -------

  /** All pairs with shingle Jaccard ≥ threshold, found by joining on
    * shared shingles (a pair with J ≥ t > 0 shares ≥1 shingle, so this
    * is EXACT, not approximate — and still never all-pairs; the join
    * fan-out is bounded by shingle document-frequency. At 100 TB add a
    * prefix filter / stop-shingle cap on hot shingles).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sh = withShingles(docs, n)
    val u = sh.select(col("doc_id"), size(col("shingles")).as("nsh"), explode(col("shingles")).as("s"))
    val a = u.select(col("doc_id").as("a_id"), col("nsh").as("na"), col("s"))
    val b = u.select(col("doc_id").as("b_id"), col("nsh").as("nb"), col("s"))
    a.join(b, Seq("s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jac", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact Jaccard pairs with PPJoin-style PREFIX FILTERING: shingles
    * are globally ordered by document frequency (rarest first) and each
    * doc joins only on its first `|s| − ⌈t·|s|⌉ + 1` shingles — any pair
    * with J ≥ t provably shares a prefix shingle, so the result equals
    * [[ngramJaccardPairs]] while the join fan-out on hot shingles
    * (stop-words of the shingle world) drops by orders of magnitude.
    * This is the 100 TB shape; costs one extra doc-frequency pass.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    ngramJaccardPairsPrefixFrom(shingleSets(docs, n), threshold)

  /** [[ngramJaccardPairsPrefix]] over a precomputed `(doc_id, shingles)`
    * frame (shared with the minhash family via SparkEntry's cache).
    */
  def ngramJaccardPairsPrefixFrom(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = sh.select(col("doc_id"), size(col("shingles")).as("nsh"), explode(col("shingles")).as("s"))
    val docFreq = u.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = u
      .join(docFreq, "s")
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rk") <= col("nsh") - ceil(lit(threshold) * col("nsh")) + 1)
      .select(col("doc_id"), col("s"))
    // the self-join fans out on shared prefix shingles — carry an 8-byte
    // xxhash64 of the shingle as the join key instead of the string (the
    // df-order and prefix SELECTION stay on strings, so exactness is
    // untouched; a hash collision can only ADD a candidate, and the exact
    // Jaccard verify below filters those). PERSIST the prefix frame: a
    // self-join otherwise duplicates its whole subtree (explode → docFreq
    // join → window) into both sides — measured 3× the build cost at
    // sf0.1. The persist is released by Spark's ContextCleaner once the
    // plan's RDD is unreachable.
    val hashed = prefix.select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.count() // eager: the self-join's two stages would otherwise
    // race to populate the cache and each run the full prefix subtree
    val cands = hashed.as("a")
      .join(hashed.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sa = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
    val sb = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
    cands
      .join(sa, "a_id")
      .join(sb, "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn(
        "jac",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jac"))
      .orderBy(col("a_id"), col("b_id"))
  }

  def ngramJaccardSql(n: Int, threshold: Double): String = {
    val grams = (1 to n).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(t) - ${n - 1}),
       |    i -> concat_ws(' ', $grams))) AS shingles
       |  FROM toks WHERE len(t) >= $n),
       |u AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh),
       |j AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS na, b.nsh AS nb,
       |         count(*) AS common
       |  FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT a_id, b_id, round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jac
       |FROM j WHERE CAST(common AS DOUBLE) / (na + nb - common) >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- containment (asymmetric Jaccard) ------------------------------

  /** Directed containment pairs: (a, b) with
    * `|shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ t` and a ≠ b — the
    * quote/subset detector (a near-fully-contained document is a quote,
    * an excerpt, or a padded duplicate even when symmetric Jaccard is
    * low because b is much longer). Same bounded shingle equi-join
    * shape as [[ngramJaccardPairs]]; asymmetry just changes the
    * denominator. The PPJoin prefix filter does NOT apply (it is a
    * symmetric-Jaccard bound), so at corpus scale the shingle join runs
    * with a document-frequency cap on hot shingles instead.
    */
  def containmentPairsFrom(sh: DataFrame, threshold: Double): DataFrame = {
    val u = sh.select(col("doc_id"), size(col("shingles")).as("nsh"), explode(col("shingles")).as("s"))
    u.as("a")
      .join(u.as("b"), col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("a_id"),
        col("b.doc_id").as("b_id"),
        col("a.nsh").as("na"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment", round(col("common").cast("double") / col("na"), 6))
      .filter(col("common").cast("double") / col("na") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  def containmentSql(n: Int, threshold: Double): String = {
    val grams = (1 to n).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(t) - ${n - 1}),
       |    i -> concat_ws(' ', $grams))) AS shingles
       |  FROM toks WHERE len(t) >= $n),
       |u AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh),
       |j AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS na, count(*) AS common
       |  FROM u a JOIN u b ON a.s = b.s AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT a_id, b_id, round(CAST(common AS DOUBLE) / na, 6) AS containment
       |FROM j WHERE CAST(common AS DOUBLE) / na >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- duplicate clustering (connected components) -------------------

  /** Collapse near-duplicate PAIRS into clusters: every document in a
    * connected component maps to the component's minimal doc_id (the
    * canonical survivor).
    *
    * Adaptive execution — the same trade Spark's broadcast join makes:
    * the pair list is the OUTPUT of near-dup detection (orders of
    * magnitude smaller than the corpus), so when it fits comfortably on
    * the driver (≤ [[SmallGraphEdges]] edges ≈ 16 MB) a driver-side
    * union-find answers in microseconds instead of ~10 distributed jobs
    * of label propagation. Above the threshold the distributed
    * [[clustersDistributed]] path runs — no driver-side graph, ever,
    * for large inputs. Both paths compute identical components
    * (asserted in PipelineOpsSpec).
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val n = pairs.count()
    if (n <= SmallGraphEdges) clustersLocal(pairs)
    else clustersDistributed(pairs, maxIter)
  }

  /** Driver-side graph threshold: 1M edges ≈ 16 MB of longs. */
  val SmallGraphEdges: Long = 1L << 20

  /** Union-find with path compression on collected edges; canonical id =
    * component minimum (identical semantics to the distributed path).
    */
  private def clustersLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = parent.keys.toSeq.map(id => (id, find(id))).sortBy(_._1)
    out.toDF("doc_id", "canonical_id").orderBy(col("doc_id"))
  }

  /** Iterative min-label propagation over the edge list — each round is
    * two joins + a groupBy (all distributed), converging in O(component
    * diameter) rounds, which for dedup graphs (small, dense clusters)
    * is 2-3.
    */
  def clustersDistributed(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // undirected edges + self-loops keep singletons and let labels flow
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .cache()
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("lbl", col("id"))
    var changed = 1L
    var iter = 0
    var prevCache: Option[DataFrame] = None
    while (changed > 0 && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("lbl", "nlbl"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nlbl")).as("minNeighbor"))
      val updated = labels
        .join(viaNeighbors, Seq("id"), "left")
        .withColumn("newLbl", least(col("lbl"), coalesce(col("minNeighbor"), col("lbl"))))
        .select(col("id"), col("newLbl").as("lbl"), (col("newLbl") =!= col("lbl")).as("ch"))
        .cache()
      changed = updated.filter(col("ch")).count()
      prevCache.foreach(_.unpersist()) // superseded iteration's cache
      prevCache = Some(updated)
      labels = updated.select(col("id"), col("lbl"))
      iter += 1
    }
    // fail LOUDLY on non-convergence: a component with diameter > maxIter
    // (a long near-dup chain) would otherwise silently emit non-canonical
    // cluster ids. Dedup graphs converge in 2-3 rounds; hitting this means
    // the graph shape is unexpected — raise maxIter deliberately, don't
    // ship wrong clusters.
    if (changed > 0)
      throw new IllegalStateException(
        s"clusters() did not converge after $maxIter rounds ($changed labels still changing); " +
          "a connected component has diameter > maxIter — raise maxIter")
    val out = labels.select(col("id").as("doc_id"), col("lbl").as("canonical_id"))
      .orderBy(col("doc_id"))
    edges.unpersist()
    out
  }

  /** Oracle: min reachable id per node via a recursive CTE over the
    * same pair set (closure is tiny — only docs that appear in pairs).
    */
  def clustersSql(pairsSubquery: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSubquery),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node)
       |SELECT node AS doc_id, min(r) AS canonical_id
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** Canonical-document selection — the step AFTER clustering that
    * dedup pipelines actually act on: per duplicate cluster, keep the
    * highest-quality member (quality DESC, NULLS LAST — an empty doc
    * never wins over a scored one — then doc_id ASC for determinism)
    * and report what was dropped. `clusters` is (doc_id, canonical_id)
    * from [[clusters]]; `quality` is any (doc_id, quality) frame —
    * [[TextAnalysis.qualityScore]] in the gate entry.
    *
    * Scale: the cluster frame is dedup OUTPUT (pairs-sized, tiny next
    * to the corpus), so the join, the per-cluster window and the final
    * aggregation are all bounded by duplicate count, never corpus size.
    */
  def survivors(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical_id"))
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
    clusters
      .join(quality.select(col("doc_id"), col("quality")), "doc_id")
      .withColumn("rk", row_number().over(byCluster))
      .groupBy(col("canonical_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
        min(when(col("rk") === 1, col("quality"))).as("survivor_quality"))
      .orderBy(col("canonical_id"))
  }

  /** DuckDB twin: explicit NULLS LAST (DuckDB's DESC default is NULLS
    * FIRST — the opposite of Spark's `desc`, which would elect an
    * empty doc as survivor).
    */
  def survivorsSql(clustersSubquery: String, qualitySubquery: String): String =
    s"""WITH c AS ($clustersSubquery),
       |q AS ($qualitySubquery),
       |j AS (SELECT c.doc_id, c.canonical_id, q.quality FROM c JOIN q USING (doc_id)),
       |r AS (SELECT doc_id, canonical_id, quality,
       |             row_number() OVER (PARTITION BY canonical_id
       |               ORDER BY quality DESC NULLS LAST, doc_id) AS rk
       |      FROM j)
       |SELECT canonical_id,
       |       count(*) AS n_members,
       |       min(doc_id) FILTER (WHERE rk = 1) AS survivor_id,
       |       min(quality) FILTER (WHERE rk = 1) AS survivor_quality
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** The dedup REMAP TABLE: every clustered doc mapped to its cluster's
    * kept survivor (doc_id → survivor_id, with an is_survivor marker) —
    * the artifact a pipeline joins against the corpus to rewrite
    * references to deduplicated documents. Composes [[clusters]] and
    * [[survivors]]; every frame is bounded by duplicate count.
    */
  def canonicalMap(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val surv = survivors(clusters, quality)
      .select(col("canonical_id"), col("survivor_id"))
    clusters
      .join(surv, "canonical_id")
      .select(
        col("doc_id"),
        col("survivor_id"),
        when(col("doc_id") === col("survivor_id"), lit(1)).otherwise(lit(0)).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  def canonicalMapSql(clustersSubquery: String, qualitySubquery: String): String =
    s"""WITH c AS ($clustersSubquery),
       |q AS ($qualitySubquery),
       |j AS (SELECT c.doc_id, c.canonical_id, q.quality FROM c JOIN q USING (doc_id)),
       |r AS (SELECT doc_id, canonical_id,
       |             row_number() OVER (PARTITION BY canonical_id
       |               ORDER BY quality DESC NULLS LAST, doc_id) AS rk
       |      FROM j),
       |s AS (SELECT canonical_id, min(doc_id) FILTER (WHERE rk = 1) AS survivor_id
       |      FROM r GROUP BY 1)
       |SELECT c.doc_id, s.survivor_id,
       |       CASE WHEN c.doc_id = s.survivor_id THEN 1 ELSE 0 END AS is_survivor
       |FROM c JOIN s USING (canonical_id) ORDER BY 1""".stripMargin

  // ---- SimHash (64-bit, md5-based, oracle-checkable) -----------------

  /** Hex digits of a given nibble whose bit `bitInNibble` (3 = MSB) is
    * set — membership test replaces bit arithmetic so the expression is
    * dialect-shared.
    */
  private def hexWithBit(bitInNibble: Int): Seq[String] =
    (0 until 16).filter(v => ((v >> bitInNibble) & 1) == 1).map("0123456789abcdef".charAt(_).toString)

  /** Per-token contribution of simhash bit b over md5(token): +1/−1. */
  private def bitContrib(b: Int): String = {
    val nibble = b / 4
    val bit = 3 - (b % 4)
    val set = hexWithBit(bit).map(c => s"'$c'").mkString(", ")
    s"(CASE WHEN substring(h, ${nibble + 1}, 1) IN ($set) THEN 1 ELSE -1 END)"
  }

  /** SimHash over the doc's DISTINCT tokens: bit b = sign of the
    * summed per-token votes of md5(token)'s bit b, 64 bits from md5's
    * first 16 nibbles (at 16 bits a Hamming-≤2 search over 500 docs
    * already flags 15% of ALL pairs — random collisions, a disguised
    * all-pairs. At 64 bits the random Hamming-≤3 collision probability
    * is ~2·10⁻¹⁵, so every reported pair is a genuine near-duplicate).
    * The per-distinct-token md5 runs before the first exchange, so the
    * scan is fanned out first. Packed as FOUR 16-bit
    * columns `sh0..sh3` — which are exactly Manku's (WWW'07,
    * "Detecting Near-Duplicates for Web Crawling") block slices for
    * maxHamming=3, and sidestep 64-bit sign/overflow differences
    * between engines.
    */
  def simhash64(docs: DataFrame): DataFrame = {
    val tok = withTokens(graft.sources.Tables.fanOut(docs))
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tk"))
      .withColumn("h", md5(col("tk")))
    val sums = (0 until 64).map(b => sum(expr(bitContrib(b))).as(s"c$b"))
    def packed(word: Int) =
      (0 until 16)
        .map(b => s"(CASE WHEN c${word * 16 + b} > 0 THEN ${1 << (15 - b)} ELSE 0 END)")
        .mkString(" + ")
    val agg = tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    (0 until 4)
      .foldLeft(agg)((df, wd) => df.withColumn(s"sh$wd", expr(packed(wd)).cast("long")))
      .select(col("doc_id") +: (0 until 4).map(wd => col(s"sh$wd")): _*)
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[simhash64]]. */
  def simhash64Sql: String = {
    val sums = (0 until 64).map(b => s"sum(${bitContrib(b)}) AS c$b").mkString(", ")
    def packed(word: Int) =
      (0 until 16)
        .map(b => s"(CASE WHEN c${word * 16 + b} > 0 THEN ${1 << (15 - b)} ELSE 0 END)")
        .mkString(" + ")
    val words = (0 until 4).map(wd => s"CAST(${packed(wd)} AS BIGINT) AS sh$wd").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS tk
       |  FROM documents),
       |hashed AS (SELECT doc_id, md5(tk) AS h FROM tok),
       |s AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id)
       |SELECT doc_id, $words FROM s ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-duplicate pairs over the 64-bit signature:
    * `(a_id, b_id, hamming)` for pairs differing in ≤ `maxHamming` ≤ 3
    * bits. Pigeonhole over the four 16-bit words: ≤3 differing bits
    * touch ≤3 words, so ≥1 word matches exactly — candidates come ONLY
    * from four per-word equi-joins (never all-pairs; expected random
    * matches n²·4/2¹⁶ — the word width is the log₂(n) dial, same rule
    * as the sign-LSH bands), verified by the exact summed
    * `bit_count(xor)` per word. Expects the session-cached [[simhash64]]
    * frame.
    */
  /** Contiguous word groups forming the maxHamming+1 pigeonhole slices:
    * k=3 → four 16-bit slices, k=1 → two 32-bit slices. This is the
    * scale dial at a FIXED 64-bit signature: expected random candidates
    * are Σ n²/2^(16·groupWords), so halving the allowed Hamming doubles
    * the slice width and squares down the collision rate — the log₂(n)
    * rule that governs the sign-LSH bands applies here as slice width.
    */
  private def simhashSlices(maxHamming: Int): Seq[Seq[Int]] = {
    val n = maxHamming + 1
    val base = 4 / n
    val extra = 4 % n
    val sizes = Seq.tabulate(n)(i => base + (if (i < extra) 1 else 0))
    sizes.scanLeft(0)(_ + _).zip(sizes).map { case (off, sz) => (off until off + sz) }
  }

  /** Combined slice value: words are 16-bit, so a group packs into one
    * long via base-2¹⁶ positional arithmetic (dialect-shared shape).
    */
  private def sliceExpr(words: Seq[Int]): String =
    words.map(wd => s"sh$wd * ${math.pow(65536.0, words.size - 1 - words.indexOf(wd)).toLong}")
      .mkString("(", " + ", ")")

  def simhashNearDupPairsFrom(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    // maxHamming=0 is NOT a pigeonhole search — it is exact signature
    // equality (join on all four words directly); the single 4-word
    // slice it would imply also overflows base-2¹⁶ packing in a signed
    // long. Rejected here and in the SQL twin.
    require(maxHamming >= 1 && maxHamming <= 3,
      s"maxHamming=$maxHamming out of [1,3]; 0 = exact signature equality, use a plain groupBy")
    val bandArr = simhashSlices(maxHamming).map(sliceExpr).mkString("array(", ", ", ")")
    val banded = sig.select(
      col("doc_id"),
      posexplode(expr(bandArr)).as(Seq("band_idx", "bv")))
    val cands = banded.as("a")
      .join(
        banded.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val ham = (0 until 4).map(wd => s"bit_count(int(a_sh$wd) ^ int(b_sh$wd))").mkString(" + ")
    val aSide = sig.select(
      col("doc_id").as("a_id") +: (0 until 4).map(wd => col(s"sh$wd").as(s"a_sh$wd")): _*)
    val bSide = sig.select(
      col("doc_id").as("b_id") +: (0 until 4).map(wd => col(s"sh$wd").as(s"b_sh$wd")): _*)
    cands
      .join(aSide, "a_id")
      .join(bSide, "b_id")
      .withColumn("hamming", expr(ham).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** DuckDB twin: same slices, same verify. */
  def simhashNearDupSql(maxHamming: Int = 3): String = {
    require(maxHamming >= 1 && maxHamming <= 3,
      s"maxHamming=$maxHamming out of [1,3] (see simhashNearDupPairsFrom)")
    val joins = simhashSlices(maxHamming)
      .map { words =>
        val e = sliceExpr(words)
        val eb = e.replace("sh", "b.sh")
        val ea = e.replace("sh", "a.sh")
        s"SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sig a JOIN sig b " +
          s"ON $ea = $eb AND a.doc_id < b.doc_id"
      }
      .mkString("\n  UNION\n  ")
    val ham = (0 until 4)
      .map(wd => s"bit_count(xor(sa.sh$wd, sb.sh$wd))")
      .mkString(" + ")
    s"""WITH sig AS (${simhash64Sql.replace("ORDER BY doc_id", "")}),
       |cand AS (
       |  $joins
       |)
       |SELECT c.a_id, c.b_id, CAST($ham AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.a_id
       |JOIN sig sb ON sb.doc_id = c.b_id
       |WHERE $ham <= $maxHamming
       |ORDER BY c.a_id, c.b_id""".stripMargin
  }

  // ---- incremental (batch-vs-corpus) dedup ---------------------------

  /** Incremental near-dedup: pairs joining an INCOMING batch (split by
    * `source`) to the BASE corpus — the daily-crawl shape ("which of
    * today's docs already exist, fuzzily, in what we have?"). Here it is
    * the restriction of the verified corpus-wide pair relation to
    * cross-split pairs, which costs one broadcast-sized join against
    * the cached pair frame; at 100 TB the same result comes from
    * shingle-joining ONLY the incoming batch against the corpus shingle
    * index (the cross-set join shape of
    * [[Similarity.semanticDecontaminate]]) — the incoming side is the
    * small side, the corpus is never self-joined.
    *
    * Output: `(new_id, base_id, jac)` — one row per incoming doc ×
    * matched base doc.
    */
  def incrementalFrom(
      pairs: DataFrame,
      docs: DataFrame,
      newSources: Seq[String]): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    def isNew(c: org.apache.spark.sql.Column) = c.isin(newSources.map(x => x: Any): _*)
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .filter(isNew(col("sa")) =!= isNew(col("sb")))
      .select(
        when(isNew(col("sa")), col("a_id")).otherwise(col("b_id")).as("new_id"),
        when(isNew(col("sa")), col("b_id")).otherwise(col("a_id")).as("base_id"),
        col("jac"))
      .orderBy(col("new_id"), col("base_id"))
  }

  /** DuckDB twin: the same restriction over the replayed pair relation. */
  def incrementalSql(n: Int, threshold: Double, newSources: Seq[String]): String = {
    // '' doubling: a source label containing a quote must not break the SQL
    val list = newSources.map(s => s"'${s.replace("'", "''")}'").mkString(", ")
    s"""WITH p AS (${ngramJaccardSql(n, threshold)}),
       |s AS (SELECT doc_id, source FROM documents)
       |SELECT CASE WHEN sa.source IN ($list) THEN p.a_id ELSE p.b_id END AS new_id,
       |       CASE WHEN sa.source IN ($list) THEN p.b_id ELSE p.a_id END AS base_id,
       |       p.jac
       |FROM p
       |JOIN s sa ON sa.doc_id = p.a_id
       |JOIN s sb ON sb.doc_id = p.b_id
       |WHERE (sa.source IN ($list)) <> (sb.source IN ($list))
       |ORDER BY new_id, base_id""".stripMargin
  }

  // ---- cross-source duplicate leakage ---------------------------------

  /** Duplicate-pair counts aggregated by UNORDERED source pair — the
    * leakage audit over any near-dup pair frame: `source_1 == source_2`
    * rows are within-source redundancy (dial that source's sampling
    * weight down); `source_1 != source_2` rows are cross-source leakage
    * (the same content arriving via two feeds — the pairs a
    * train/eval-split-by-source silently shares). Consumes the CACHED
    * pair frame, so the audit costs two doc_id-keyed joins on a
    * pairs-sized input plus a sources²-bounded aggregation — the
    * expensive candidate generation is paid once, shared with the
    * dedup/cluster/survivor family.
    */
  def crossSourceDups(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("src_a")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("src_b")), "b_id")
      .select(
        least(col("src_a"), col("src_b")).as("source_1"),
        greatest(col("src_a"), col("src_b")).as("source_2"))
      .groupBy(col("source_1"), col("source_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_1"), col("source_2"))
  }

  /** Per-document novelty: the fraction of the doc's distinct shingles
    * that appear in NO other document (document frequency 1) — the
    * inverse of the duplication signals, and the positive selection
    * criterion a curation pipeline uses to up-weight genuinely new
    * content instead of merely dropping duplicates.
    *
    * Consumes the CACHED shingle frame (the same one the whole dedup
    * family shares), so the cost is one explode + a shingle-df hash agg
    * + the lookup join back — all keys bounded by shingle df exactly
    * like the pair candidates. Docs shorter than the shingle width are
    * absent (no shingles), consistent with the oracle.
    */
  def docNovelty(sh: DataFrame): DataFrame = {
    val ex = explodeShingles(sh)
    val df = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    ex
      .join(df, "s")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, lit(1))).as("n_unique"))
      .withColumn(
        "novelty",
        round(col("n_unique").cast("double") / col("n_shingles").cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  def docNoveltySql(n: Int): String = {
    val grams = (1 to n).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(t) - ${n - 1}),
       |    i -> concat_ws(' ', $grams))) AS shingles
       |  FROM toks WHERE len(t) >= $n),
       |u AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |d AS (SELECT s, count(*) AS df FROM u GROUP BY 1)
       |SELECT doc_id, count(*) AS n_shingles,
       |       count(*) FILTER (df = 1) AS n_unique,
       |       round(CAST(count(*) FILTER (df = 1) AS DOUBLE) / count(*), 6) AS novelty
       |FROM u JOIN d USING (s)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def crossSourceDupsSql(pairsSubquery: String): String =
    s"""WITH p AS ($pairsSubquery),
       |s AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_1,
       |       greatest(sa.source, sb.source) AS source_2,
       |       count(*) AS n_pairs
       |FROM p
       |JOIN s sa ON sa.doc_id = p.a_id
       |JOIN s sb ON sb.doc_id = p.b_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
