package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring detection — the span-level dedup of Lee
  * et al., "Deduplicating Training Data Makes Language Models Better"
  * (arXiv:2107.06499): report every maximal character span of length
  * >= `GramLen` that also occurs verbatim in ANOTHER document. Doc-level
  * dedup (exact / MinHash / SimHash in [[Dedup]]) misses boilerplate,
  * license headers and quoted passages embedded inside otherwise-unique
  * documents; span dedup is what finds those.
  *
  * The paper's tool is a single-node suffix array — memory O(corpus),
  * unusable at 100 TB. The distributed equivalent here is position-level
  * gram matching plus gaps-and-islands merging:
  *
  *   1. explode every L-char window into `(doc_id, pos,
  *      xxhash64(gram))` — NARROW (sequence+explode+substring,
  *      whole-stage codegen; the shuffle that follows carries three
  *      longs per position, never document text);
  *   2. keep grams seen in more than one document — a gram is
  *      cross-document iff `min(doc_id) != max(doc_id)` over its gram
  *      partition, so ONE window over `partition by g` replaces the
  *      groupBy + equi-join-back shape: the gram frame is materialized
  *      and shuffled ONCE (the join formulation computes the explode +
  *      hash twice and shuffles the wide frame twice — measured 11.8 s
  *      vs 3.6 s at sf0.1; no all-pairs anywhere either way);
  *   3. merge each doc's surviving positions into maximal runs —
  *      stride-1 islands via `pos - row_number()` over a window
  *      PARTITIONED BY doc_id (per-doc state only; nothing global).
  *
  * A span of length S duplicated across docs yields S-L+1 consecutive
  * surviving positions, which collapse to one `[span_start,
  * span_start+span_len)` row. At 100 TB the gram explode is the
  * dominant term (≈ corpus chars rows); a hot gram (a boilerplate line
  * shared by millions of docs) puts ALL its occurrence rows in one
  * window partition on one task — the skew remedy is the
  * `maxOccurrences` OCCURRENCE ceiling on [[spanFrameXx]] (occurrence
  * rows, not distinct docs, are what a window partition holds, so
  * occurrences are the metric that matters for skew): a gram that hot
  * is boilerplate by definition, and dropping it removes or splits
  * only the spans made of it.
  *
  * Span formation tests only gram EQUALITY, so absent a 64-bit
  * collision the spans do not depend on the hash. The driver oracle is
  * the pure-Scala [[FineDedupRef.spans]] via VALUES literals.
  */
object SpanDedup {

  /** Minimum duplicated-run length, in characters. The paper uses 50
    * BPE tokens; 40 chars is the same order of magnitude on this
    * corpus's short synthetic sentences.
    */
  val GramLen = 40

  /** `(doc_id, span_start, span_len)` of every maximal cross-document
    * duplicated span, 1-based character positions, unordered — shared
    * by `dup_spans_xx` and [[spanStatsFrom]] (SparkEntry caches it per
    * (session, sf) so the gram explode+window runs once, not once per
    * consumer). The gram digest is the codegen'd 64-bit xxhash64 long.
    *
    * `maxOccurrences` is the hot-gram skew guard for the 100 TB run: a
    * gram with more OCCURRENCE ROWS than the cap (occurrences, not
    * distinct docs — a window partition holds one row per occurrence,
    * so intra-doc repeats count too) is EXCLUDED from span formation.
    * The count rides the SAME WindowExec as the min/max, so the cap
    * costs nothing extra; the default (MaxValue) disables it, and the
    * driver-gate entry runs uncapped so the oracle semantics stay
    * exact. A capped gram inside a longer rare span splits or
    * edge-trims that span at the hot gram's positions; a span whose
    * every gram is that hot disappears — by construction it is
    * boilerplate.
    */
  def spanFrameXx(
      docs: DataFrame,
      gramLen: Int = GramLen,
      maxOccurrences: Long = Long.MaxValue): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= gramLen)
      .select(
        col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - gramLen + 1)).as("pos"),
        col("text"))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("pos"),
        xxhash64(expr(s"substring(text, pos, $gramLen)")).as("g"))
    val perGram = Window.partitionBy(col("g"))
    val hits = grams
      .withColumn("mn", min(col("doc_id")).over(perGram))
      .withColumn("mx", max(col("doc_id")).over(perGram))
      .withColumn("occ", count(lit(1)).over(perGram))
      .filter(col("mn") =!= col("mx") && col("occ") <= maxOccurrences)
      .select(col("doc_id"), col("pos"))
    val perDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("isl", col("pos") - row_number().over(perDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(gramLen.toLong)).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** Per-document duplication audit — the signal span-filtering
    * pipelines actually threshold on: raw span count, UNIONED
    * duplicated character count, and the per-mille duplicated fraction
    * (integer arithmetic, so both engines agree exactly).
    *
    * Maximal islands from [[spanFrameXx]] can OVERLAP as character
    * ranges (positions {p, p+2} with gram length L cover [p, p+2+L) but
    * sum their lengths to 2L), so the char count goes through a second
    * gaps-and-islands pass at interval level: a span opens a new group
    * iff its start exceeds the running `max(span_end)` of everything
    * before it in the doc — the classic distributed interval-union
    * shape, again per-doc window state only. The final join back to
    * `documents` is an equi-join on doc_id for `n_chars`; the span side
    * is bounded by the number of duplicated docs, never corpus chars.
    */
  def spanStatsFrom(spanFr: DataFrame, docs: DataFrame): DataFrame = {
    val spans = spanFr
      .withColumn("span_end", col("span_start") + col("span_len"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
    val prevEnd =
      max(col("span_end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val merged = spans
      .withColumn(
        "fresh",
        when(prevEnd.isNull || col("span_start") > prevEnd, 1L).otherwise(0L))
      .withColumn(
        "grp",
        sum(col("fresh")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("span_start")).as("s"),
        max(col("span_end")).as("e"),
        count(lit(1)).as("n_raw"))
    merged
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_raw")).as("n_spans"),
        sum(col("e") - col("s")).as("dup_chars"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("dup_permille", expr("dup_chars * 1000 DIV n_chars"))
      .select(col("doc_id"), col("n_spans"), col("dup_chars"), col("dup_permille"))
      .orderBy(col("doc_id"))
  }
}
