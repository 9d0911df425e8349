package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003) — the MOSS algorithm: hash every k-character gram, slide a
  * window of `w` consecutive gram hashes over each document, and keep
  * the minimum hash of each window (rightmost position on ties). The
  * guarantee is positional: any shared substring of length ≥ k + w − 1
  * between two documents yields at least one IDENTICAL selected
  * fingerprint in both — so fingerprint-set overlap detects partial
  * plagiarism/quotation that [[Dedup]]'s whole-document MinHash
  * (which estimates global Jaccard) dilutes away, at a guaranteed
  * density of ~2/(w+1) selections per position instead of
  * [[SpanDedup]]'s one row per character.
  *
  * Gram hash: the codegen'd 64-bit `xxhash64` long. Its oracle is the
  * pure-Scala [[FineDedupRef]] (VALUES literals via
  * `SparkEntry.oracleSqlFor`, the `dedup_minhash_lsh` technique).
  *
  * Selection key: the rightmost-tie rule is folded into a single
  * orderable key `struct(h, ep)` with `ep = 10^12 − pos` — the struct
  * min over a window is (min hash, max position among ties), no argmin
  * construct needed, and the per-doc window ORDERS BY the bare long
  * `ep` (a fixed-width sort key; the round-5 formulation sorted a
  * 44-char concat string). A window START s selects `min(struct)` over
  * ROWS [s, s+w−1]; trailing short windows are excluded by requiring
  * `count(*) == w` over the same frame (the paper's windows are exactly
  * the full ones). A document with fewer than w grams (len < k+w−1) has
  * no full window and is absent from the output, here and in the
  * reference.
  *
  * Plan shape: the gram explode is NARROW (sequence+substring, codegen;
  * dominated by ≈ corpus chars rows, like [[SpanDedup]]); ONE shuffle
  * partitions by doc_id for the per-doc ordered window (min and count
  * ride the same WindowExec); the distinct over selected keys and the
  * final per-doc digest re-shuffle only the FINGERPRINT frame — already
  * winnowed to ~2/(w+1) of positions, and each row is three longs,
  * never text. Nothing global: every stage is per-doc state.
  */
object Winnowing {

  /** Gram length k and window width w. Matches with length
    * ≥ k + w − 1 = 19 chars are guaranteed a shared fingerprint.
    * k spans ~3 words of this corpus's short vocabulary — at k=8 a
    * single common word pair collides across most documents and the
    * pair join degrades toward all-pairs (measured: 98k of 125k
    * possible pairs shared ≥3 fingerprints at sf0.01; at k=16 the
    * planted near-dups score ≥150 shared while the noise p99 is ~5).
    */
  val GramLen = 16
  val WindowGrams = 4

  /** Position encoding for the tie-break key: pos is embedded as
    * `10^12 − pos`, so the struct min picks the LARGEST position among
    * equal hashes ("rightmost" in the paper's terms).
    */
  private val PosBase = 1000000000000L

  /** Minimum shared distinct fingerprints for a reported pair. */
  val MinShared = 10

  /** `(doc_id, pos, fp)` — the selected fingerprints (1-based gram
    * position, 64-bit signed xxhash64 long): what a matcher indexes as
    * (fp → doc) postings. Explode the gram positions, hash each gram,
    * pick each full window's `min(struct(h, ep))`, dedup per doc.
    * Selection ties break on the SIGNED long order —
    * [[FineDedupRef.winnowFingerprints]] replicates exactly that.
    */
  def fingerprintsXx(
      docs: DataFrame,
      gramLen: Int = GramLen,
      windowGrams: Int = WindowGrams): DataFrame = {
    require(gramLen > 0 && windowGrams > 0, s"k=$gramLen w=$windowGrams must be positive")
    val grams = graft.sources.Tables.fanOut(docs)
      .filter(length(col("text")) >= gramLen)
      .select(
        col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - gramLen + 1)).as("pos"),
        col("text"))
      // ep must be a REAL column: ordering the min and count windows by
      // an expression gives them different extracted-key exprIds,
      // CollapseWindow can't merge them, and the plan runs two
      // Sort+Window passes instead of one (observed in round 5)
      .select(
        col("doc_id"),
        (lit(PosBase) - col("pos")).cast("long").as("ep"),
        xxhash64(expr(s"substring(text, pos, $gramLen)")).as("h"))
    val frame = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("ep")) // encoded pos: ASC in encoding == DESC in pos
      .rowsBetween(Window.currentRow, windowGrams - 1)
    // ordering by the encoded position is ordering by pos DESC;
    // direction is irrelevant to "every full window of w consecutive
    // grams" as long as the reference slides the same way —
    // FineDedupRef orders identically.
    grams
      .withColumn("mk", min(struct(col("h"), col("ep"))).over(frame))
      .withColumn("nw", count(lit(1)).over(frame))
      .filter(col("nw") === windowGrams)
      .select(col("doc_id"), col("mk"))
      .distinct()
      .select(
        col("doc_id"),
        (lit(PosBase) - col("mk.ep")).as("pos"),
        col("mk.h").as("fp"))
  }

  /** Per-doc stats over an xxhash64 fingerprint frame: count plus an
    * order-independent 64-bit checksum (`bit_xor` of `xxhash64(pos,
    * fp)` — position-sensitive through the inner hash, so a fingerprint
    * at the wrong position still breaks the value). Stays integer-only
    * end to end; [[FineDedupRef.winnowStats]] recomputes it exactly.
    */
  def fingerprintStatsXxFrom(fp: DataFrame): DataFrame =
    fp
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fp"),
        expr("bit_xor(xxhash64(pos, fp))").as("fp_xor"))
      .orderBy(col("doc_id"))

  /** MOSS's actual match step: document pairs sharing at least
    * `minShared` distinct fingerprint hashes — the plagiarism/quotation
    * candidate relation. The winnowing guarantee makes this an
    * overlap-sensitive join: any common substring of length ≥ k+w−1
    * contributes a shared fingerprint, so heavily-overlapping docs rank
    * by `n_shared` (what MOSS displays as the match score).
    *
    * Plan shape: doc-level postings (distinct (fp, doc)) self-equi-join
    * on the fingerprint hash — candidates only ever come from shared
    * fingerprints, never all-pairs (same shape as the MinHash band
    * join). Fan-out per fingerprint is its document frequency;
    * `maxPostings` caps pathological boilerplate fingerprints (a fp
    * that common identifies nothing — dropping it mirrors the
    * [[SpanDedup]]/[[UnitDedup]] hot-key guard), and rides the posting
    * aggregation that is already computed. The gate entry runs
    * uncapped. Takes an existing fingerprint frame, so a cached frame
    * is shared with [[fingerprintStatsXxFrom]].
    */
  def sharedFingerprintPairsFrom(
      fp: DataFrame,
      minShared: Int = MinShared,
      maxPostings: Long = Long.MaxValue): DataFrame =
    sharedFingerprintPairsFromPost(postings(fp, maxPostings), minShared)

  /** The capped doc-level posting frame `(fp, doc_id)` — cache THIS
    * before the pair join: the self-join reads it twice, so an
    * unpersisted postings derivation would run its groupBy + df window
    * once per join side.
    */
  def postings(fp: DataFrame, maxPostings: Long = Long.MaxValue): DataFrame =
    fp
      .groupBy(col("fp"), col("doc_id"))
      .agg(lit(1).as("one"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= maxPostings)
      .select(col("fp"), col("doc_id"))

  /** The pair join over an already-built (ideally cached) posting frame. */
  def sharedFingerprintPairsFromPost(
      post: DataFrame,
      minShared: Int = MinShared): DataFrame =
    post.as("a")
      .join(post.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("a_id"), col("b_id"))
}
