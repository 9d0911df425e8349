package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unit-level (C4-style) cross-document deduplication: split every
  * document into fixed-width TOKEN blocks, remove each block that also
  * occurs verbatim in ANOTHER document, and report what survives. This
  * is the C4 pipeline's "discard any three-sentence span seen more than
  * once" rule (Raffel et al., arXiv:1910.10683 §2.2) re-expressed at a
  * granularity between [[Dedup]]'s whole-document hashing and
  * [[SpanDedup]]'s character-position spans: cheap enough to run on
  * every crawl (one digest row per unit, never per character), precise
  * enough to strip shared boilerplate out of otherwise-unique pages.
  * The corpus here has no sentence punctuation, so the unit is a
  * fixed `UnitWords`-token block — the arithmetic is identical for any
  * upstream sentence splitter.
  *
  * Plan shape (two shuffles, both digest-width):
  *   1. unit formation is NARROW: per-row tokenize + `transform` over
  *      a `sequence` of block indices + `slice`/`array_join`, then one
  *      posexplode — whole-stage codegen, no shuffle, no state;
  *   2. the cross-document test is `min(doc_id) != max(doc_id)` over a
  *      window PARTITIONED BY md5(unit) — the [[SpanDedup]] trick: one
  *      shuffle of (doc_id, idx, digest) replaces the groupBy +
  *      join-back shape that would materialize the unit frame twice.
  *      A within-document repeat is NOT removed (same convention as
  *      span dedup: self-repetition is [[CorpusSignals]]' business);
  *   3. reassembly is one groupBy(doc_id): surviving units re-joined in
  *      block order and digested, so the output row is fixed-width no
  *      matter how large the document.
  *
  * Skew: a boilerplate unit shared by millions of documents piles its
  * occurrence rows into ONE window partition on one task — the same
  * hazard and the same remedy as [[SpanDedup.spanFrameXx]]: the
  * `maxOccurrences` occurrence ceiling rides the identical WindowExec
  * (a `count` over the same partition costs nothing extra), and a gram
  * that hot is boilerplate by definition — capping it only stops it
  * KEEPING its documents distinct, so the capped unit stays in every
  * doc. The driver-gate entry runs uncapped so oracle semantics stay
  * exact.
  *
  * Docs with zero tokens form no units and are absent from the output
  * (nothing to keep or remove); both engines agree.
  */
object UnitDedup {

  /** Tokens per unit. 8 on this corpus's ~50-token documents yields
    * ~6 units/doc — the same order as sentences-per-page in C4.
    */
  val UnitWords = 8

  /** `(doc_id, n_units, n_removed, kept_md5)` per document, where
    * `kept_md5` digests the space-joined surviving units in block
    * order (md5 of '' when every unit was removed).
    */
  def dedupUnits(
      docs: DataFrame,
      unitWords: Int = UnitWords,
      maxOccurrences: Long = Long.MaxValue): DataFrame = {
    require(unitWords > 0, s"unitWords=$unitWords must be positive")
    val units = graft.sources.Tables.fanOut(docs)
      .withColumn("ts", expr(Dedup.TokensExpr))
      .withColumn("nu", expr(s"(size(ts) + ${unitWords - 1}) div $unitWords"))
      .filter(col("nu") > 0)
      .select(
        col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, nu - 1), i -> array_join(slice(ts, i * $unitWords + 1, $unitWords), ' '))"))
          .as(Seq("unit_idx", "unit")))
    // the digest must be a REAL column before the window: partitioning
    // by the md5(...) EXPRESSION gives each of the three window calls a
    // fresh extracted key exprId, so CollapseWindow can't merge them and
    // the plan runs three Exchanges instead of one (observed; SpanDedup
    // learned the same lesson)
    val perUnit = Window.partitionBy(col("uh"))
    // 64-bit digest: half the shuffle width, both engines truncate
    // identically. COLLISION BUDGET at target scale (applies equally to
    // the 16-hex-prefix digests in SpanDedup/Winnowing and the xxhash64
    // twins): with ~10^12 distinct units/grams at 100 TB the birthday
    // expectation is n²/2⁶⁵ ≈ 2.7×10⁴ colliding pairs — each one a
    // FALSE duplicate silently merged, and invisible to the parity gate
    // because both engines share the digest. Acceptable for dedup
    // (removing a few unique units in 10^12 is lossier-than-random by
    // ~10⁻⁸), but a production run that must not drop uniques should
    // verify flagged spans against the raw text on a sample (audit
    // join on (doc_id, unit_idx) → compare unit strings), or widen to
    // the full 128-bit md5 at 2× shuffle width.
    val flagged = units
      .withColumn("uh", substring(md5(col("unit")), 1, 16))
      .withColumn("mn", min(col("doc_id")).over(perUnit))
      .withColumn("mx", max(col("doc_id")).over(perUnit))
      .withColumn("occ", count(lit(1)).over(perUnit))
      .withColumn("dup", col("mn") =!= col("mx") && col("occ") <= maxOccurrences)
    flagged
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_units"),
        count(when(col("dup"), 1)).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(!col("dup"), struct(col("unit_idx"), col("unit"))))),
            x => x.getField("unit")),
          " ")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: same tokenizer, same block arithmetic, same
    * cross-document criterion (uncapped — the gate entry runs uncapped
    * too).
    */
  def dedupUnitsSql(unitWords: Int = UnitWords): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, ts, (len(ts) + ${unitWords - 1}) // $unitWords AS nu
       |  FROM t WHERE len(ts) > 0),
       |u AS (
       |  SELECT doc_id, unnest(generate_series(0, nu - 1)) AS unit_idx, ts FROM d),
       |units AS (
       |  SELECT doc_id, unit_idx,
       |         array_to_string(
       |           list_slice(ts, unit_idx * $unitWords + 1, unit_idx * $unitWords + $unitWords),
       |           ' ') AS unit
       |  FROM u),
       |f AS (
       |  SELECT doc_id, unit_idx, unit,
       |         min(doc_id) OVER (PARTITION BY substr(md5(unit), 1, 16))
       |           <> max(doc_id) OVER (PARTITION BY substr(md5(unit), 1, 16)) AS dup
       |  FROM units)
       |SELECT doc_id,
       |       count(*) AS n_units,
       |       count(*) FILTER (WHERE dup) AS n_removed,
       |       md5(coalesce(string_agg(unit, ' ' ORDER BY unit_idx) FILTER (WHERE NOT dup), ''))
       |         AS kept_md5
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
