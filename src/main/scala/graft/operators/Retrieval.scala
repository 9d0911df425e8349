package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{cosinePair, DuckDialect, SparkDialect}

/** Ranked retrieval over the document corpus — the serving-side query
  * path that the curation operators ([[Curation.invertedIndex]],
  * [[CorpusSignals.tfidfTopTerms]]) build indexes for but never query:
  *
  *   - BM25 (Robertson/Okapi, the Lucene `ln(1 + (N-df+0.5)/(df+0.5))`
  *     idf form) top-k documents per query;
  *   - hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
  *     `1/(60+rank)`) of the BM25 lexical ranking with a brute-force
  *     cosine ranking over the embedding corpus — the standard
  *     lexical+semantic serving stack for RAG-style retrieval.
  *
  * The query workload is the pinned known-item panel: query `q` is the
  * first [[QueryTermCount]] tokens of document `doc_id = q` (lexical
  * side) and the embedding of `vec_id = q` (semantic side), for the
  * [[PanelQueries]] lowest ids — fixed as the corpus grows, the same
  * pinned-split convention as `semanticDecontaminateProd`.
  *
  * Scale shape (the 100 TB story): the query panel is a few dozen rows
  * and rides BROADCAST hash joins on both sides — the lexical join
  * touches only the postings of the panel's terms (cost ∝ Σ df(t),
  * corpus-size-independent for non-stopword terms), document length and
  * corpus statistics are one broadcast row, and the per-query ranking is
  * a window over candidates, never the corpus. The semantic side here is
  * the brute-force panel twin; the IVF/PQ stores ([[Similarity]],
  * [[Pq]]) are the sub-linear path for large panels and plug into the
  * same fusion by replacing the `sem` frame. All builtins, no UDFs;
  * every join below is an equi-join (PlanAuditSpec's no-nested-loop kill
  * criterion holds — the one-row stats frame joins on the non-foldable
  * constant key, the [[CorpusSignals.one]] pattern).
  */
object Retrieval {

  /** BM25 term-frequency saturation. */
  val Bm25K1 = 1.2

  /** BM25 length-normalization strength. */
  val Bm25B = 0.75

  /** Reciprocal-rank-fusion denominator offset (the k=60 of Cormack
    * et al. 2009 — small enough that rank 1 vs 2 still separates,
    * large enough that one list's tail can't dominate the other's head).
    */
  val RrfK = 60

  /** Pinned known-item query panel size (`doc_id`/`vec_id` < this). */
  val PanelQueries = 8

  /** Tokens taken from the head of each panel document as its query. */
  val QueryTermCount = 4

  /** Results kept per query (both retrieval legs and the fused list). */
  val RetrievalTopK = 10

  private val toks = Dedup.TokensExpr

  /** `(query_id, token)` — the DISTINCT terms of each panel query
    * (duplicate tokens inside one query score once; plain BM25 has no
    * query-term-frequency component).
    */
  private def queryTerms(docs: DataFrame): DataFrame =
    docs
      .filter(col("doc_id") < PanelQueries)
      .select(
        col("doc_id").as("query_id"),
        explode(expr(s"slice($toks, 1, $QueryTermCount)")).as("token"))
      .distinct()

  /** BM25 top-[[RetrievalTopK]] documents per panel query:
    * `(query_id, rnk, doc_id, bm25)`.
    *
    * Plan: one (doc_id, token) hash-aggregate for tf + per-doc length,
    * one token-keyed hash-aggregate for df, one broadcast of the
    * (tiny, distinct-term) query panel onto the tf frame — so only the
    * panel terms' postings survive the join — and one per-query window
    * for the final ranking. Ranking runs on the RAW double score; the
    * 6dp round is display-only (the `dist_raw` ordering rule from
    * [[Pq.adcTopKSql]]).
    */
  def bm25TopK(docs: DataFrame, k: Int = RetrievalTopK): DataFrame = {
    val (postings, stats) = postingsAndStats(docs)
    rankBm25(postings.join(broadcast(queryTerms(docs)), "token"), stats, k)
  }

  /** [[bm25TopK]] scoring only each query's most-INFORMATIVE half of
    * terms — rank the query's terms by df ascending (rarest first, ties
    * on the token) and keep the top ⌈n/2⌉. This is the WAND-family
    * lexical scale guard in its self-tuning form: a common term's
    * posting list is the one per-query cost that grows with the corpus
    * while its idf contribution shrinks, so dropping each query's
    * commonest half bounds the candidate join by the rare terms —
    * whatever the corpus's df distribution looks like (an absolute
    * df-ratio cap is either vacuous or total on a corpus whose
    * vocabulary sits in one df band, as the synthetic one does). The
    * selection is evaluated in-plan from the df frame, no driver
    * statistics.
    */
  def bm25TopKInformative(docs: DataFrame, k: Int = RetrievalTopK): DataFrame = {
    val (postings, stats) = postingsAndStats(docs)
    val informative = dfFrame(docs)
      .join(broadcast(queryTerms(docs)), "token")
      .withColumn("nq", count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn(
        "r",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("df"), col("token"))))
      .filter(col("r") <= expr("(nq + 1) div 2"))
      .select(col("query_id"), col("token"))
    rankBm25(postings.join(broadcast(informative), "token"), stats, k)
  }

  /** `(token, doc_id, len, tf, df)` postings (df denormalized onto each
    * row — a token's postings live together, so df rides along for free
    * in the sharded layout) plus the one-row corpus stats frame.
    * Integer sums only, so `avg_len` is the same double in both engines
    * regardless of row order.
    *
    * df arrives via a count window over the token partition, NOT a
    * `rawPostings ⋈ dfFrame` self-join: the self-join's two branches
    * each re-tokenize the corpus (the plan has no common-subexpression
    * sharing across join sides), so the window halves the dominant
    * tokenize cost and drops a shuffle — one explode+aggregate pass,
    * one token-keyed exchange. df values are identical (each
    * (doc, token) contributes exactly one postings row, so the
    * partition count IS the document frequency). Token-hash skew is
    * the same skew the join's token-keyed exchange had.
    */
  private def postingsAndStats(docs: DataFrame): (DataFrame, DataFrame) = {
    val postings = rawPostings(tokens(docs))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .select(col("token"), col("doc_id"), col("len"), col("tf"), col("df"))
    (postings, corpusStats(tokens(docs)))
  }

  /** `(token, df)` — the document-frequency frame. */
  private def dfFrame(docs: DataFrame): DataFrame =
    rawPostings(tokens(docs)).groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** `(doc_id, tk)` — each document's token array. */
  private def tokens(docs: DataFrame): DataFrame =
    graft.sources.Tables.fanOut(docs).select(col("doc_id"), expr(toks).as("tk"))

  /** `(doc_id, len, token, tf)` — postings without the df column. */
  private def rawPostings(tokenized: DataFrame): DataFrame =
    tokenized
      .select(col("doc_id"), size(col("tk")).as("len"), explode(col("tk")).as("token"))
      .groupBy(col("doc_id"), col("len"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** One-row `(n_docs, sum_len, avg_len)`. Integer sums only, so
    * `avg_len` is the same double in both engines regardless of row
    * order — and `sum_len` persists so the incremental path can update
    * the average exactly (old − replaced + batch on longs).
    */
  private def corpusStats(tokenized: DataFrame): DataFrame =
    tokenized
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("tk")).cast("long")).as("sum_len"))
      .withColumn("avg_len", col("sum_len").cast("double") / col("n_docs"))
      .select(col("n_docs"), col("sum_len"), col("avg_len"))

  /** Score and rank joined candidates `(query_id, doc_id, len, tf, df)`
    * against the one-row stats frame — the shared tail of the in-flight
    * and stored paths (storage must be result-invisible; both feed the
    * same oracle).
    */
  private def rankBm25(candidates: DataFrame, stats: DataFrame, k: Int): DataFrame = {
    val idf = log(
      lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf").cast("double") * lit(Bm25K1 + 1.0) /
      (col("tf") +
        lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("len") / col("avg_len")))
    candidates
      .withColumn("one", CorpusSignals.one(col("tf")))
      .join(broadcast(stats.withColumn("one", CorpusSignals.one(col("n_docs")))), "one")
      .withColumn("term_score", idf * norm)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_raw"))
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("score_raw").desc, col("doc_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), round(col("score_raw"), 6).as("bm25"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---- stored, token-sharded index (the serving path) ---------------

  /** Postings shards: `bucket = pmod(xxhash64(token), PostingsBuckets)`.
    * A token's entire postings list lives in exactly one bucket
    * directory, so a query touches ≤ |query terms| shards.
    */
  val PostingsBuckets = 16

  private def bucketOfCol(token: Column): Column =
    pmod(xxhash64(token), lit(PostingsBuckets.toLong)).cast("int")

  /** Driver-side twin of [[bucketOfCol]] for building the literal
    * IN-list prune ([[graft.functions.XxHash64Ref]] reproduces Spark's
    * seed-42 xxhash64 bit-exactly; XxHashRefSpec asserts it).
    */
  def bucketOf(token: String): Int = {
    val h = graft.functions.XxHash64Ref.hashBytes(
      token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      graft.functions.XxHash64Ref.SparkSeed)
    (((h % PostingsBuckets) + PostingsBuckets) % PostingsBuckets).toInt
  }

  /** Build the sharded lexical index: postings (+ denormalized df and
    * doc length) partitioned by token-hash bucket at `path`, the
    * one-row corpus stats at `statsPath`. At 100 TB this is the
    * inverted-index build — two hash aggregations and one
    * token-keyed join, written once, queried forever; incremental
    * maintenance is [[bm25IndexUpsert]] / [[bm25IndexDelete]] on the
    * same bucket layout.
    */
  def bm25IndexWrite(docs: DataFrame, path: String, statsPath: String): Unit = {
    // Pin the tokenization ONCE across the two writes (the
    // bm25IndexUpsert discipline): postings and stats are separate
    // ACTIONS, so the un-pinned shape tokenized the full corpus twice —
    // at 100 TB that is two corpus scans where one suffices, and at
    // bench SF the tokenize dominates the build. Frame ∝ corpus rows
    // (doc_id + token array), released in the finally.
    val tokenized = StoreManifest.pinBatch(tokens(docs))
    try {
      val sharded = withDf(rawPostings(tokenized).withColumn("bucket", bucketOfCol(col("token"))))
      // one writer task per shard (explicit count — AQE would coalesce a
      // count-less repartition to one task; StoreManifest.routeToBuckets
      // note), and exactly one file per shard directory per build
      // instead of input-tasks × shards
      StoreManifest.routeToBuckets(sharded, PostingsBuckets, "bucket")
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
      // doc→shard manifest build is LAZY (round 14): a stored index that
      // is only ever queried never probes one; the first upsert/delete's
      // backfill builds it from the postings' own (doc_id, bucket) pairs
      corpusStats(tokenized).write.mode("overwrite").parquet(statsPath)
    } finally { tokenized.unpersist(blocking = false); () }
  }

  /** INCREMENTAL index maintenance — the daily-crawl shape for the
    * lexical index, mirroring [[Similarity.ivfStoreUpsert]]'s
    * semantics: a batch document REPLACES its old postings everywhere
    * they live (a re-crawled doc's token set can change, so its stale
    * postings may sit in buckets the new text never touches — the
    * old-home pass is required for correctness, and the gate's
    * re-texted doc makes skipping it a hash mismatch); new documents
    * append.
    *
    * Why this can be bucket-local at all: a token's ENTIRE postings
    * list lives in its one hash bucket, so df — denormalized onto the
    * posting rows — is recomputable from the merged content of the
    * touched buckets alone ([[withDf]]), and untouched buckets' df
    * cannot have changed (no posting of a batch doc lives there, by the
    * definition of touched). The same denormalized df is why even an
    * insert-only batch rewrites its touched buckets instead of
    * appending. The corpus stats update is exact long arithmetic:
    * (n_docs, sum_len) − replaced + batch. Cost ∝ batch + touched-
    * bucket bytes + one (doc_id, bucket)-projected old-home pass —
    * never corpus bytes. Returns the touched bucket ids.
    *
    * The probe, marker, swap and manifest steps are the keyed-store
    * maintenance transaction ([[StoreManifest.maintain]]); the stats
    * file rides it as the sidecar leg ([[statsLeg]]), so the pending
    * marker covers all three artifacts. A lakehouse table format would
    * commit the three writes in one transaction; this is the
    * plain-parquet equivalent.
    */
  def bm25IndexUpsert(
      spark: org.apache.spark.sql.SparkSession,
      docsBatch: DataFrame,
      path: String,
      statsPath: String): Seq[Int] =
    // the pinned batch is the tokenization: without it the batch is
    // re-tokenized for the new-home collect, the merge union, the
    // manifest adds AND the stats delta
    StoreManifest.maintain(spark, path, PostingsStore, tokens(docsBatch)) {
      (store, tokenized) =>
        // derived from the pinned tokenized frame — lazy pins (no eager
        // count): they materialize inside the probe's first action, and a
        // concurrent branch only re-reads the warm tokenized cache
        // (StoreManifest.pinDerived note; two driver actions saved)
        val batchIds = StoreManifest.pinDerived(tokenized.select(col("doc_id")).distinct())
        val postings = StoreManifest.pinDerived(rawPostings(tokenized))
        StoreManifest.Change(
          batchIds, Some(postings.withColumn("bucket", bucketOfCol(col("token")))), PostingCols,
          rederive = Some(withDf),
          sidecar = statsLeg(spark, store, batchIds, Some(tokenized.select(size(col("tk")).as("len"))),
            path, statsPath),
          pins = Seq(batchIds, postings))
    }

  private val PostingsStore = StoreManifest.KeyedStore("doc_id", "bucket", idUnique = false)

  /** A posting row's own columns; `df` and the bucket are derived. */
  private val PostingCols = Seq("doc_id", "len", "token", "tf")

  /** df over bucket-complete postings — every merged token's full
    * postings list is present — via the token-partition count window
    * (a self-join's two branches would each rescan the buckets), in
    * the one field layout every bucket directory carries.
    */
  private def withDf(postings: DataFrame): DataFrame =
    postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .select(col("token"), col("doc_id"), col("len"), col("tf"), col("df"), col("bucket"))

  /** The corpus-stats sidecar leg of BM25 maintenance. After the
    * marker is down it computes the exact new `(n_docs, sum_len)`
    * against the PRE-swap store in ONE driver action: the old stats row
    * cross-joined with the replaced docs' totals and the `added` docs'
    * totals (an insert-only batch replaces nothing — no store scan).
    * The write lands after the swap, so the time-travel sidecar first
    * captures the pre-write stats as the committed generation's.
    *
    * On heal the live stats file is a crashed call's untrusted
    * leftover: it is neither archived (`sidecarAsOf` then refuses the
    * generation rather than score with wrong n_docs/avg_len — ADVICE
    * r14) nor patched, but rebuilt from the post-swap store —
    * `(doc_id, len)` is denormalized onto every posting row — before
    * the manifest update clears the marker, so a crash between the two
    * re-enters the heal.
    */
  private def statsLeg(
      spark: org.apache.spark.sql.SparkSession,
      store: DataFrame,
      ids: DataFrame,
      added: Option[DataFrame],
      path: String,
      statsPath: String)(pr: StoreManifest.ProbeResult, heal: Boolean): () => Unit = {
    import spark.implicits._
    val newStats =
      if (heal) None
      else {
        val old = graft.sources.Tables.readStable(spark, statsPath).select(col("n_docs"), col("sum_len"))
        val replaced =
          if (pr.insertOnly) Seq((0L, 0L)).toDF("n", "len")
          else
            docTotals(store
              .filter(col("bucket").isin(pr.oldHomes.map(Int.box): _*))
              .join(ids, Seq("doc_id"))
              .select(col("doc_id"), col("len")).distinct())
        val row = (Seq(old, replaced) ++ added.map(docTotals)).reduce(_ crossJoin _).collect()(0)
        def plus(i: Int) = if (row.length > i) row.getLong(i) else 0L
        Some((row.getLong(0) - row.getLong(2) + plus(4), row.getLong(1) - row.getLong(3) + plus(5)))
      }
    () => {
      if (!heal) StoreGenerations.archiveSidecar(spark, path, statsPath, "stats")
      val (nDocs, sumLen) = newStats.getOrElse {
        val r = docTotals(graft.sources.Tables.readStable(spark, path)
          .select(col("doc_id"), col("len")).distinct()).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      Seq((nDocs, sumLen, sumLen.toDouble / nDocs))
        .toDF("n_docs", "sum_len", "avg_len")
        .write.mode("overwrite").parquet(statsPath)
    }
  }

  /** One row: the docs' count and summed length. */
  private def docTotals(docs: DataFrame): DataFrame =
    docs.agg(
      coalesce(count(lit(1)), lit(0L)).as("n"),
      coalesce(sum(col("len").cast("long")), lit(0L)).as("len"))

  /** Right-to-be-forgotten DELETION from the sharded lexical index —
    * [[Similarity.storeDelete]]'s semantics on the postings layout. A
    * deleted doc's postings live exactly in its tokens' buckets, so the
    * old-home probe's bucket set covers every row that must go;
    * df — denormalized per posting row — is recomputed WITHIN the
    * touched buckets (valid for the same reason as the upsert: a
    * token's full postings list lives in its one shard, and untouched
    * shards hold no deleted rows so their df cannot have changed), and
    * the corpus stats shrink by exact long deltas ([[statsLeg]]).
    * Untouched shard directories stay byte-identical; a shard emptied
    * by the deletion is swept. Cost ∝ touched-shard bytes, never corpus
    * bytes.
    */
  def bm25IndexDelete(
      spark: org.apache.spark.sql.SparkSession,
      deleteIds: DataFrame,
      path: String,
      statsPath: String): Seq[Int] =
    StoreManifest.maintain(spark, path, PostingsStore, deleteIds.select(col("doc_id")).distinct()) {
      (store, ids) =>
        StoreManifest.Change(ids, None, PostingCols, rederive = Some(withDf),
          sidecar = statsLeg(spark, store, ids, None, path, statsPath))
    }

  /** Bound the small files that streaming/daily upserts leave in the
    * postings shards — the same maintenance pass as the IVF float and
    * PQ code stores ([[Similarity.ivfStoreCompact]]), result-invisible
    * by construction and idempotent. Returns the rewritten partitions.
    */
  def bm25IndexCompact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxFilesPerBucket: Int = 1): Seq[String] = {
    val out = StoreManifest.compactStore(spark, path, Seq("bucket"), maxFilesPerBucket)
    // sweep the append-only manifest's garbage pairs on the same
    // cadence that bounds small files (StoreManifest class note)
    StoreManifest.rebuild(spark, path, "doc_id")
    out
  }

  /** The query panel collected ONCE (VERDICT r14 #6: the stored topK
    * paths ran a distinct-terms collect AND re-evaluated the panel's
    * tokenization plan under the broadcast — two driver-side
    * evaluations where one suffices): one collect of the ≤
    * [[PanelQueries]]×[[QueryTermCount]]-row panel, from which the
    * term list, the shard set, AND the broadcast side (a local
    * relation — no second scan job) all derive.
    */
  private def panelCollected(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame): (DataFrame, Seq[String]) = {
    val rows = queryTerms(docs).collect().toSeq
    import spark.implicits._
    val local = rows.map(r => (r.getLong(0), r.getString(1))).toDF("query_id", "token")
    (local, rows.map(_.getString(1)).distinct)
  }

  /** Answer the panel FROM the stored index: the panel's terms select
    * their shard directories via a literal `bucket IN (...)` that lands
    * in the scan's PartitionFilters (file-level pruning — the
    * [[Similarity.ivfStoredTopK]] contract, spec-asserted), the `token
    * IN (...)` literal prunes further via parquet min/max, and the
    * ranking is [[rankBm25]]'s — storage must be result-invisible, so
    * the stored entry shares `bm25_topk`'s oracle. The panel-term
    * collect is bounded (≤ [[PanelQueries]]·[[QueryTermCount]] strings),
    * the same class as the probe-list boundary.
    */
  def bm25StoredTopK(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      path: String,
      statsPath: String,
      k: Int = RetrievalTopK): DataFrame = {
    val (qt, terms) = panelCollected(spark, docs)
    val buckets = terms.map(bucketOf).distinct
    val candidates = graft.sources.Tables.readStable(spark, path)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
      .join(broadcast(qt), "token")
    rankBm25(candidates, graft.sources.Tables.readStable(spark, statsPath), k)
  }

  /** [[bm25StoredTopK]] against a PRIOR GENERATION of the index — the
    * lexical leg of "which index served run X": the postings come from
    * [[StoreGenerations.storeAsOf]] and the corpus stats from the
    * generation's `stats` sidecar ([[bm25IndexUpsert]] archives the
    * pre-write stats file alongside every bucket archive), so the
    * snapshot scores with ITS OWN n_docs/avg_len, never a newer
    * generation's. Panel pruning and ranking are [[bm25StoredTopK]]'s.
    */
  def bm25StoredTopKAsOf(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      path: String,
      statsPath: String,
      gen: Int,
      k: Int = RetrievalTopK): DataFrame = {
    val (qt, terms) = panelCollected(spark, docs)
    val buckets = terms.map(bucketOf).distinct
    val candidates = StoreGenerations.storeAsOf(spark, path, gen)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
      .join(broadcast(qt), "token")
    val stats = graft.sources.Tables.readStable(
      spark, StoreGenerations.sidecarAsOf(spark, path, statsPath, "stats", gen))
    rankBm25(candidates, stats, k)
  }

  /** Shared SQL: BM25 candidate ranking CTEs, ending in a `lex` relation
    * `(query_id, doc_id, score_raw, rnk)` already cut to `k`.
    */
  private def bm25Ctes(k: Int, src: String = "documents"): String =
    s"""u AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
       |  FROM $src),
       |tf AS (
       |  SELECT doc_id, len(tk) AS doc_len, unnest(tk) AS token
       |  FROM u),
       |tfg AS (SELECT doc_id, doc_len, token, count(*) AS tf FROM tf GROUP BY 1, 2, 3),
       |dfreq AS (SELECT token, count(*) AS df FROM tfg GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avg_len
       |  FROM u),
       |q AS (
       |  SELECT DISTINCT doc_id AS query_id,
       |         unnest(list_slice(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), 1, $QueryTermCount)) AS token
       |  FROM $src WHERE doc_id < $PanelQueries),
       |scored AS (
       |  SELECT q.query_id, tfg.doc_id,
       |         sum(ln(1.0 + CAST(stats.n_docs - dfreq.df + 0.5 AS DOUBLE) / (dfreq.df + 0.5)) *
       |             CAST(tfg.tf AS DOUBLE) * ${Bm25K1 + 1.0} /
       |             (tfg.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * tfg.doc_len / stats.avg_len))
       |         ) AS score_raw
       |  FROM tfg JOIN q USING (token) JOIN dfreq USING (token) CROSS JOIN stats
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT * FROM (
       |    SELECT query_id, doc_id, score_raw,
       |           row_number() OVER (PARTITION BY query_id ORDER BY score_raw DESC, doc_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $k)""".stripMargin

  def bm25TopKSql(k: Int = RetrievalTopK): String =
    s"""WITH ${bm25Ctes(k)}
       |SELECT query_id, rnk, doc_id, round(score_raw, 6) AS bm25
       |FROM lex ORDER BY query_id, rnk""".stripMargin

  /** [[bm25TopKInformative]]'s replay: the bm25 CTEs with the scored
    * stage joined against the informative-half term selection instead
    * of the full query panel.
    */
  def bm25InformativeSql(k: Int = RetrievalTopK): String =
    s"""WITH ${bm25Ctes(k)},
       |qsel AS (
       |  SELECT query_id, token FROM (
       |    SELECT q.query_id, q.token,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY dfreq.df, q.token) AS r,
       |           count(*) OVER (PARTITION BY q.query_id) AS nq
       |    FROM q JOIN dfreq USING (token))
       |  WHERE r <= (nq + 1) // 2),
       |scored_i AS (
       |  SELECT qsel.query_id, tfg.doc_id,
       |         sum(ln(1.0 + CAST(stats.n_docs - dfreq.df + 0.5 AS DOUBLE) / (dfreq.df + 0.5)) *
       |             CAST(tfg.tf AS DOUBLE) * ${Bm25K1 + 1.0} /
       |             (tfg.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * tfg.doc_len / stats.avg_len))
       |         ) AS score_raw
       |  FROM tfg JOIN qsel USING (token) JOIN dfreq USING (token) CROSS JOIN stats
       |  GROUP BY 1, 2)
       |SELECT query_id, rnk, doc_id, round(score_raw, 6) AS bm25 FROM (
       |  SELECT query_id, doc_id, score_raw,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score_raw DESC, doc_id) AS rnk
       |  FROM scored_i)
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** The incremental gate's replay: the full BM25 recompute over the
    * corpus AS THE STORE SHOULD SEE IT after the upsert — doc 0
    * re-texted (uppercased), every other doc unchanged. Storage,
    * replacement, old-home deletion and the stats delta must all be
    * result-invisible against this.
    */
  /** The deletion gate's replay: the full BM25 recompute over the
    * corpus WITHOUT the erased docs (`deleteWhere` rows removed —
    * panel queries included, if the predicate hits one). Old-home
    * postings removal, the touched-shard df recompute, and the stats
    * shrink must all be result-invisible against this.
    */
  def bm25DeletedSql(deleteWhere: String, k: Int = RetrievalTopK): String =
    s"""WITH docs_del AS (
       |  SELECT doc_id, text FROM documents WHERE NOT ($deleteWhere)),
       |${bm25Ctes(k, "docs_del")}
       |SELECT query_id, rnk, doc_id, round(score_raw, 6) AS bm25
       |FROM lex ORDER BY query_id, rnk""".stripMargin

  def bm25RetextedSql(k: Int = RetrievalTopK): String =
    s"""WITH docs_mod AS (
       |  SELECT doc_id, CASE WHEN doc_id = 0 THEN upper(text) ELSE text END AS text
       |  FROM documents),
       |${bm25Ctes(k, "docs_mod")}
       |SELECT query_id, rnk, doc_id, round(score_raw, 6) AS bm25
       |FROM lex ORDER BY query_id, rnk""".stripMargin

  /** Brute-force cosine ranks of the embedding corpus against the panel
    * query vectors: `(query_id, vec_id, rnk)` cut to `k`. The panel
    * frame (≤ [[PanelQueries]] rows) broadcasts onto the corpus via the
    * non-foldable constant key, so this is a BroadcastHashJoin producing
    * panel×corpus candidate rows — the documented brute-force twin of
    * the IVF panel path ([[Similarity.ivfTopK]]).
    */
  /** Probed cells per panel query — the in-cell ranking of
    * [[semanticRanksIvf]]. */
  val HybridNprobe = 2

  /** IVF semantic ranks: each panel query's top-`nprobe` cells by
    * centroid dot (ties to the lower index, the [[Similarity]]
    * convention), candidates reached by an equi-join on `bucket`
    * against the corpus assignment frame — per-query cost ∝ probed-cell
    * occupancy, never corpus size. Fixed geometry ([[Similarity
    * .Centroids]]) so the replay's centroid literals are static; the
    * trained-centroid variants certify the training separately.
    */
  private[graft] def semanticRanksIvf(embeddings: DataFrame, k: Int, nprobe: Int): DataFrame =
    semanticRanksIvfFrom(Similarity.ivfAssignments(embeddings), embeddings, k, nprobe)

  /** [[semanticRanksIvf]] with the candidate side supplied by the
    * CALLER — a `(vec_id, embedding, bucket)` frame such as the
    * persisted IVF store or a [[StoreGenerations.storeAsOf]] snapshot
    * of it. This is the semantic leg of "which indexes served run X":
    * per-query probe selection and ranking are identical to the live
    * path, only the candidate generation differs. `embeddings`
    * supplies the query panel (the panel's own vectors — queries are
    * inputs, not index state).
    */
  private[graft] def semanticRanksIvfFrom(
      store: DataFrame,
      embeddings: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val queries = embeddings
      .filter(col("vec_id") < PanelQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val withSims = Similarity.Centroids.zipWithIndex.foldLeft(queries) { case (df, (c, j)) =>
      df.withColumn(s"s$j", expr(Similarity.SparkDialect.dotConst("q_emb", c)))
    }
    val probes = withSims
      .select(
        col("query_id"),
        col("q_emb"),
        posexplode(array(Similarity.Centroids.indices.map(j => col(s"s$j")): _*)).as(Seq("j", "d")))
      .withColumn(
        "pr",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("d").desc, col("j"))))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("j").cast("int").as("bucket"))
    store
      .withColumn("c_norm", sqrt(expr(SparkDialect.dotSelf("embedding"))))
      .join(broadcast(probes.withColumn(
        "q_norm", sqrt(expr(SparkDialect.dotSelf("q_emb"))))), "bucket")
      .withColumn(
        "sim",
        expr(SparkDialect.dotPair("q_emb", "embedding")) /
          nullif(col("q_norm") * col("c_norm"), lit(0d)))
      .filter(col("sim").isNotNull)
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("rnk"))
  }

  private[graft] def semanticRanks(embeddings: DataFrame, k: Int): DataFrame = {
    // norms per side, not per pair (the hardNegatives lesson: the
    // isNotNull chain otherwise pushes the full cosine into the join's
    // residual condition and re-evaluates it)
    val queries = embeddings
      .filter(col("vec_id") < PanelQueries)
      .select(
        col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        sqrt(expr(SparkDialect.dotSelf("embedding"))).as("q_norm"))
      .withColumn("one", CorpusSignals.one(col("query_id")))
    embeddings
      .withColumn("c_norm", sqrt(expr(SparkDialect.dotSelf("embedding"))))
      .withColumn("one", CorpusSignals.one(col("vec_id")))
      .join(broadcast(queries), "one")
      .withColumn(
        "sim",
        expr(SparkDialect.dotPair("q_emb", "embedding")) /
          nullif(col("q_norm") * col("c_norm"), lit(0d)))
      .filter(col("sim").isNotNull)
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("rnk"))
  }

  /** Reciprocal-rank fusion of the BM25 lexical list and the cosine
    * semantic list, per panel query:
    * `(query_id, rnk, doc_id, rrf, lex_rnk, sem_rnk)`.
    *
    * `rrf = Σ_sides 1/(RrfK + rank)`, a side contributing 0 when the
    * document is outside its top-k (the full-outer-join convention).
    * Both inputs are already cut to `k`, so the fused candidate set is
    * ≤ 2k rows per query — the fusion itself is corpus-size-free.
    * `doc_id`/`vec_id` are fused as one id space by convention (in a
    * real deployment the embedding row IS the document's vector; the
    * synthetic tables share the 0-based id domain, which is all RRF
    * needs — it fuses ranks, never features).
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, k: Int = RetrievalTopK): DataFrame =
    fuseRrf(bm25TopK(docs, k), semanticRanks(embeddings, k), k)

  /** [[hybridRrf]] with the semantic leg answered by the fixed-centroid
    * IVF probe instead of the brute-force scan — the at-scale
    * composition: each panel query ranks only its `nprobe` cells'
    * candidates (cells chosen per query by centroid dot, an equi-join
    * on `bucket` against the assignment frame), and the fusion is
    * unchanged. The brute-force twin (`hybrid_rrf`) measures what the
    * probe trades; this entry certifies the composed serving stack
    * end-to-end.
    */
  def hybridRrfIvf(
      docs: DataFrame,
      embeddings: DataFrame,
      k: Int = RetrievalTopK,
      nprobe: Int = HybridNprobe): DataFrame =
    fuseRrf(bm25TopK(docs, k), semanticRanksIvf(embeddings, k, nprobe), k)

  /** Reciprocal-rank fusion of a BM25 frame and a semantic-rank frame
    * (both already cut to k): the shared tail of the brute-force and
    * IVF hybrids.
    */
  private[graft] def fuseRrf(bm25: DataFrame, semRanks: DataFrame, k: Int): DataFrame = {
    val lex = bm25.select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val sem = semRanks
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk").as("sem_rnk"))
    val rrf = coalesce(lit(1.0) / (lit(RrfK) + col("lex_rnk")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("sem_rnk")), lit(0.0))
    lex
      .join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_raw", rrf)
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("rrf_raw").desc, col("doc_id"))))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"),
        col("rnk"),
        col("doc_id"),
        round(col("rrf_raw"), 6).as("rrf"),
        col("lex_rnk"),
        col("sem_rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** nDCG@k of the semantic retrieval against label-match relevance —
    * the evaluation-metric operator an IR pipeline runs after every
    * index/model change: a retrieved vector is relevant iff it carries
    * the query vector's label, DCG = Σ rel/log₂(rank+1), ideal DCG from
    * the per-label corpus counts (capped at k), nDCG = DCG/IDCG. One
    * corpus-sized equi-join for candidate labels, broadcast panel and
    * label-count frames, closed-form IDCG via a sequence fold — no
    * per-query driver work, so the metric scales with the panel, not
    * the corpus.
    */
  def retrievalNdcg(embeddings: DataFrame, k: Int = RetrievalTopK): DataFrame = {
    val ranks = semanticRanks(embeddings, k)
    val labels = embeddings.select(col("vec_id"), col("label"))
    val qLabels = embeddings
      .filter(col("vec_id") < PanelQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val labelCounts = embeddings.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val dcg = ranks
      .join(labels, "vec_id")
      .join(broadcast(qLabels), "query_id")
      .withColumn("rel", when(col("label") === col("q_label"), lit(1.0)).otherwise(lit(0.0)))
      .groupBy(col("query_id"))
      .agg(sum(col("rel") / log2(col("rnk") + lit(1))).as("dcg_raw"))
    val idcg = qLabels
      .join(broadcast(labelCounts), col("q_label") === col("label"))
      .withColumn("m", least(lit(k), col("n_label")))
      .withColumn(
        "idcg_raw",
        expr("aggregate(transform(sequence(1, m), i -> CAST(1 AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1)), 0D, (a, x) -> a + x)"))
      .select(col("query_id"), col("idcg_raw"))
    dcg
      .join(idcg, "query_id")
      .select(
        col("query_id"),
        round(col("dcg_raw"), 6).as("dcg"),
        round(col("idcg_raw"), 6).as("idcg"),
        round(col("dcg_raw") / col("idcg_raw"), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  def retrievalNdcgSql(k: Int = RetrievalTopK): String =
    s"""WITH $QvCte,
       |simr AS (
       |  SELECT qv.query_id, e.vec_id,
       |         ${cosinePair(DuckDialect, "qv.q_emb", "e.embedding")} AS sim
       |  FROM embeddings e CROSS JOIN qv),
       |ranks AS (
       |  SELECT * FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
       |    FROM simr WHERE sim IS NOT NULL)
       |  WHERE rnk <= $k),
       |ql AS (
       |  SELECT vec_id AS query_id, label AS q_label
       |  FROM embeddings WHERE vec_id < $PanelQueries),
       |lc AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
       |dcg AS (
       |  SELECT r.query_id,
       |         sum(CASE WHEN l.label = q.q_label THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
       |             / log2(r.rnk + 1)) AS dcg_raw
       |  FROM ranks r
       |  JOIN embeddings l ON l.vec_id = r.vec_id
       |  JOIN ql q ON q.query_id = r.query_id
       |  GROUP BY 1),
       |idcg AS (
       |  SELECT q.query_id,
       |         list_sum(list_transform(range(1, least($k, lc.n_label) + 1),
       |                                 i -> CAST(1 AS DOUBLE) / log2(i + 1))) AS idcg_raw
       |  FROM ql q JOIN lc ON lc.label = q.q_label)
       |SELECT d.query_id, round(d.dcg_raw, 6) AS dcg, round(i.idcg_raw, 6) AS idcg,
       |       round(d.dcg_raw / i.idcg_raw, 6) AS ndcg
       |FROM dcg d JOIN idcg i USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** The measured trade of the IVF leg (the `pq_recall` convention for
    * retrieval): overlap@k of the IVF-probed semantic list and the
    * fused list against their brute-force twins, as integer permille
    * floors — one row, every term recomputed by the oracle from raw
    * floats and text, so the probe's quality is hash-gated on every
    * run, not assumed.
    */
  def hybridRecallAudit(
      docs: DataFrame,
      embeddings: DataFrame,
      k: Int = RetrievalTopK,
      nprobe: Int = HybridNprobe): DataFrame =
    hybridRecallAuditFrom(
      bm25TopK(docs, k),
      semanticRanks(embeddings, k),
      semanticRanksIvf(embeddings, k, nprobe),
      k, nprobe)

  /** [[hybridRecallAudit]] against CALLER-SUPPLIED legs — the form the
    * entry map wires so the expensive frames (the brute-force cosine
    * panel scan, the corpus tokenization behind the BM25 leg) are built
    * ONCE per session and shared with `hybrid_rrf`/`hybrid_rrf_ivf`
    * instead of being recomputed inside each of the four lists
    * (VERDICT r13 #4: the r13 certificate re-ran both brute-force legs
    * on every gate run — 2× the corpus work and 4 separate count
    * actions). The two fusions are rank arithmetic over panel×k rows —
    * recomputing THEM from the shared legs is free; the four counts
    * collapse into ONE action over a union of the two overlap joins.
    *
    * (`ann_recall`'s session-cached exact scan is deliberately NOT
    * reused here: that panel ranks by L2 on the raw corpus while the
    * hybrid legs rank by cosine — different metric, different frame.)
    */
  def hybridRecallAuditFrom(
      bm25: DataFrame,
      semB: DataFrame,
      semI: DataFrame,
      k: Int = RetrievalTopK,
      nprobe: Int = HybridNprobe): DataFrame = {
    val spark = bm25.sparkSession
    import spark.implicits._
    val sB = semB.select(col("query_id"), col("vec_id"))
    val sI = semI.select(col("query_id"), col("vec_id"))
    val fB = fuseRrf(bm25, semB, k).select(col("query_id"), col("doc_id"))
    val fI = fuseRrf(bm25, semI, k).select(col("query_id"), col("doc_id"))
    // ONE bounded action (panel×k rows per side): each exact list
    // left-joins its approximate twin, the two sides union under a tag,
    // and a single two-row aggregate yields all four counters
    val tagged = sB
      .join(sI.withColumn("_hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .select(lit("sem").as("side"), col("_hit"))
      .unionByName(
        fB.join(fI.withColumn("_hit", lit(1)), Seq("query_id", "doc_id"), "left")
          .select(lit("fused").as("side"), col("_hit")))
    val counts = tagged
      .groupBy(col("side"))
      .agg(count(lit(1)).as("total"), count(col("_hit")).as("overlap"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (semTotal, semOverlap) = counts("sem")
    val (fTotal, fOverlap) = counts("fused")
    Seq((k, nprobe, 1000L * semOverlap / semTotal, 1000L * fOverlap / fTotal))
      .toDF("k", "nprobe", "sem_overlap_permille", "fused_overlap_permille")
  }

  /** [[hybridRecallAudit]]'s replay: both semantic legs, both fusions,
    * and the permille floors — entirely from raw tables.
    */
  def hybridRecallSql(k: Int = RetrievalTopK, nprobe: Int = HybridNprobe): String = {
    val cents = Similarity.Centroids
    val qSims = cents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("q_emb", c)} AS s$j" }
      .mkString(",\n  ")
    val unpivot = cents.indices
      .map(j => s"SELECT query_id, q_emb, $j AS j, s$j AS d FROM qs")
      .mkString("\n  UNION ALL ")
    val cSims = cents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS s$j" }
      .mkString(",\n  ")
    def fusedList(sem: String, out: String): String =
      s"""$out AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY rrf_raw DESC, doc_id) AS rnk
         |    FROM (
         |      SELECT coalesce(lex.query_id, $sem.query_id) AS query_id,
         |             coalesce(lex.doc_id, $sem.doc_id) AS doc_id,
         |             coalesce(CAST(1 AS DOUBLE) / ($RrfK + lex.rnk), 0.0) +
         |               coalesce(CAST(1 AS DOUBLE) / ($RrfK + $sem.rnk), 0.0) AS rrf_raw
         |      FROM lex FULL OUTER JOIN $sem
         |        ON lex.query_id = $sem.query_id AND lex.doc_id = $sem.doc_id))
         |  WHERE rnk <= $k)""".stripMargin
    s"""WITH ${bm25Ctes(k)},
       |$QvCte,
       |simr_b AS (
       |  SELECT qv.query_id, e.vec_id,
       |         ${cosinePair(DuckDialect, "qv.q_emb", "e.embedding")} AS sim
       |  FROM embeddings e CROSS JOIN qv),
       |sem_b AS (
       |  SELECT * FROM (
       |    SELECT query_id, vec_id AS doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
       |    FROM simr_b WHERE sim IS NOT NULL)
       |  WHERE rnk <= $k),
       |qs AS (SELECT query_id, q_emb,
       |  $qSims
       |FROM qv),
       |qd AS (
       |  $unpivot),
       |probe AS (
       |  SELECT query_id, q_emb, j AS bucket FROM (
       |    SELECT query_id, q_emb, j,
       |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, j) AS pr
       |    FROM qd)
       |  WHERE pr <= $nprobe),
       |cs AS (SELECT vec_id, embedding,
       |  $cSims
       |FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, embedding, ${Similarity.bucketCase(cents.length)} AS bucket FROM cs),
       |simr_i AS (
       |  SELECT p.query_id, a.vec_id,
       |         ${cosinePair(DuckDialect, "p.q_emb", "a.embedding")} AS sim
       |  FROM assigned a JOIN probe p USING (bucket)),
       |sem_i AS (
       |  SELECT * FROM (
       |    SELECT query_id, vec_id AS doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
       |    FROM simr_i WHERE sim IS NOT NULL)
       |  WHERE rnk <= $k),
       |${fusedList("sem_b", "list_b")},
       |${fusedList("sem_i", "list_i")},
       |counts AS (
       |  SELECT
       |    (SELECT count(*) FROM sem_b) AS sem_total,
       |    (SELECT count(*) FROM sem_b b JOIN sem_i i USING (query_id, doc_id)) AS sem_overlap,
       |    (SELECT count(*) FROM list_b) AS f_total,
       |    (SELECT count(*) FROM list_b b JOIN list_i i USING (query_id, doc_id)) AS f_overlap)
       |SELECT $k AS k, $nprobe AS nprobe,
       |       (1000 * sem_overlap) // sem_total AS sem_overlap_permille,
       |       (1000 * f_overlap) // f_total AS fused_overlap_permille
       |FROM counts""".stripMargin
  }

  /** The `qv` panel CTE + fusion tail shared by both hybrid replays —
    * expects `lex` and `sem` CTEs in scope.
    */
  private def fusedSqlTail(k: Int): String =
    s"""fused AS (
       |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
       |         coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |         coalesce(CAST(1 AS DOUBLE) / ($RrfK + lex.rnk), 0.0) +
       |           coalesce(CAST(1 AS DOUBLE) / ($RrfK + sem.rnk), 0.0) AS rrf_raw,
       |         lex.rnk AS lex_rnk, sem.rnk AS sem_rnk
       |  FROM lex FULL OUTER JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id)
       |SELECT query_id, rnk, doc_id, round(rrf_raw, 6) AS rrf, lex_rnk, sem_rnk
       |FROM (
       |  SELECT query_id, doc_id, rrf_raw, lex_rnk, sem_rnk,
       |         row_number() OVER (PARTITION BY query_id ORDER BY rrf_raw DESC, doc_id) AS rnk
       |  FROM fused)
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  private def qvCte(embSrc: String): String =
    s"""qv AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM $embSrc WHERE vec_id < $PanelQueries)""".stripMargin

  private val QvCte: String = qvCte("embeddings")

  def hybridRrfSql(k: Int = RetrievalTopK): String =
    s"""WITH ${bm25Ctes(k)},
       |$QvCte,
       |simr AS (
       |  SELECT qv.query_id, e.vec_id,
       |         ${cosinePair(DuckDialect, "qv.q_emb", "e.embedding")} AS sim
       |  FROM embeddings e CROSS JOIN qv),
       |sem AS (
       |  SELECT * FROM (
       |    SELECT query_id, vec_id AS doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
       |    FROM simr WHERE sim IS NOT NULL)
       |  WHERE rnk <= $k),
       |${fusedSqlTail(k)}""".stripMargin

  /** [[hybridRrfIvf]]'s replay: per-query probed cells (top-`nprobe`
    * centroid dots, ties to the lower index), candidates restricted to
    * those cells via the assignment, then the shared fusion.
    */
  def hybridRrfIvfSql(
      k: Int = RetrievalTopK,
      nprobe: Int = HybridNprobe,
      docsSrc: String = "documents",
      embSrc: String = "embeddings"): String = {
    val cents = Similarity.Centroids
    val qSims = cents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("q_emb", c)} AS s$j" }
      .mkString(",\n  ")
    val unpivot = cents.indices
      .map(j => s"SELECT query_id, q_emb, $j AS j, s$j AS d FROM qs")
      .mkString("\n  UNION ALL ")
    val cSims = cents.zipWithIndex
      .map { case (c, j) => s"${DuckDialect.dotConst("embedding", c)} AS s$j" }
      .mkString(",\n  ")
    s"""WITH ${bm25Ctes(k, docsSrc)},
       |${qvCte(embSrc)},
       |qs AS (SELECT query_id, q_emb,
       |  $qSims
       |FROM qv),
       |qd AS (
       |  $unpivot),
       |probe AS (
       |  SELECT query_id, q_emb, j AS bucket FROM (
       |    SELECT query_id, q_emb, j,
       |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, j) AS pr
       |    FROM qd)
       |  WHERE pr <= $nprobe),
       |cs AS (SELECT vec_id, embedding,
       |  $cSims
       |FROM $embSrc),
       |assigned AS (
       |  SELECT vec_id, embedding, ${Similarity.bucketCase(cents.length)} AS bucket FROM cs),
       |simr AS (
       |  SELECT p.query_id, a.vec_id,
       |         ${cosinePair(DuckDialect, "p.q_emb", "a.embedding")} AS sim
       |  FROM assigned a JOIN probe p USING (bucket)),
       |sem AS (
       |  SELECT * FROM (
       |    SELECT query_id, vec_id AS doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
       |    FROM simr WHERE sim IS NOT NULL)
       |  WHERE rnk <= $k),
       |${fusedSqlTail(k)}""".stripMargin
  }
}
