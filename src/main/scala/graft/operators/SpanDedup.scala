package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document repeated-SUBSTRING dedup: find (and remove) verbatim
  * token runs that occur in more than one document, at SPAN granularity
  * rather than whole-document granularity.
  *
  * Doc-level near-dup (MinHash/SimHash families in [[MinHash]],
  * `queries.Dedup`) drops whole documents; the complementary curation
  * pass — "deduplicating training data" span removal — keeps every
  * document but strips the repeated region itself (license boilerplate,
  * navigation chrome, quoted reposts) from every copy AFTER the first.
  * Semantics here:
  *
  *   - a positional word n-gram is DUPLICATED in doc d if the same
  *     n-gram occurs in any document with a smaller id (keep-first: the
  *     minimum-id owner keeps its text untouched, so one canonical copy
  *     of every repeated passage always survives the clean);
  *   - duplicated gram offsets are unioned into maximal spans: two hits
  *     whose n-token windows overlap or touch merge into one span
  *     (classic gaps-and-islands on the offset sequence).
  *
  * Scale shape (the 100 TB formulation): grams travel as 60-bit hashes
  * (8 bytes on the wire, never the strings), the first-owner resolution
  * is ONE shuffle on the gram hash (a partition-local window min — no
  * join back, the exchange feeds the filter directly), and the island
  * merge is ONE shuffle on doc id whose downstream span agg is
  * co-partitioned (zero extra exchange). Everything is linear in total
  * tokens; nothing is quadratic in documents or grams.
  *
  * Reference analogue: the reference dedups rows, never substrings
  * (parser/eav.py drop_duplicates); this operator is extension-tier for
  * LLM corpus curation (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better" — re-expressed relationally instead of
  * via suffix arrays, trading their exact char-level spans for token
  * n-gram resolution so the whole pass stays three Spark shuffles).
  */
object SpanDedup {

  /** 60-bit gram hash with a bit-identical DuckDB form
    * (`CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT)`) — same family
    * as [[Winnow]]'s fingerprints, so oracles replay it exactly.
    */
  private def gramHash(g: Column): Column =
    conv(substring(md5(g.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Positional n-grams of `docs` as `(id, pos, h)` — 1-based token
    * offset, 60-bit gram hash.
    */
  def gramRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span gram size must be >= 2, got $n")
    docs
      .select(
        col(idCol),
        posexplode(graft.functions.TextExprs.wordShinglesAll(col(textCol), n))
          .as(Seq("pos0", "g")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), gramHash(col("g")).as("h"))
  }

  /** Gaps-and-islands merge of per-doc hit offsets into maximal spans:
    * `(id, pos)` hits (each covering tokens `[pos, pos+n-1]`) →
    * `(id, span_start, span_end, n_dup_grams, span_toks)`. Two hits
    * whose n-token windows overlap or touch join one span. One shuffle
    * on id; the span agg is co-partitioned behind the window.
    */
  def mergeSpans(hits: DataFrame, idCol: String, n: Int): DataFrame = {
    val id = col(idCol)
    // a new span starts when this hit's n-token window neither overlaps
    // nor touches the previous hit's window
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val prev = lag("pos", 1).over(byDoc)
    val islands = hits
      .withColumn("f", when(prev.isNull || col("pos") > prev + n, 1L).otherwise(0L))
      .withColumn(
        "island",
        sum("f").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands
      .groupBy(id, col("island"))
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") + (n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_toks", col("span_end") - col("span_start") + lit(1L))
      .drop("island")
  }

  /** Maximal repeated spans per document (1-based token offsets):
    * `(id, span_start, span_end, n_dup_grams, span_toks)`.
    * One row per span; documents with no cross-doc repeat emit nothing.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val id = col(idCol)
    // first-owner via window min over the gram hash: one shuffle on h,
    // no second pass — a groupBy+self-join would shuffle the gram frame
    // twice for the same answer
    val hits = gramRows(docs, idCol, textCol, n)
      .withColumn("first_id", min(id).over(Window.partitionBy("h")))
      .filter(id > col("first_id"))
      .select(id, col("pos"))
    mergeSpans(hits, idCol, n)
  }

  /** Standing gram-owner index `(h, first_id)` of a corpus — the state
    * an incremental span-dedup pipeline persists between ingest batches
    * (at scale: a lake table bucketed by `h`, upserted per batch with
    * keep-min on `first_id`).
    */
  def ownerIndex(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    gramRows(docs, idCol, textCol, n)
      .groupBy("h")
      .agg(min(col(idCol)).as("first_id"))

  /** INCREMENTAL repeated spans for an ingest batch: only the DELTA is
    * gram-exploded and probed against the standing [[ownerIndex]] —
    * per-batch cost is O(delta grams + hits), never a corpus rescan
    * (the same delta shape as [[MinHash.incrementalLshPairs]]).
    * CONTRACT: ids are ingest-ordered — every indexed doc precedes every
    * delta doc — so "gram present in the index" already means "owned by
    * an earlier doc"; batch-internal repeats resolve by the within-batch
    * window min. Output ≡ [[repeatedSpans]] of the full corpus
    * restricted to the delta's documents (spec-pinned).
    */
  def incrementalSpans(
      index: DataFrame, delta: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val id = col(idCol)
    val hits = gramRows(delta, idCol, textCol, n)
      .withColumn("batch_first", min(id).over(Window.partitionBy("h")))
      .join(index.select(col("h"), col("first_id").as("idx_first")), Seq("h"), "left")
      .filter(col("idx_first").isNotNull || id > col("batch_first"))
      .select(id, col("pos"))
    mergeSpans(hits, idCol, n)
  }

  /** Per-document dedup accounting + the cleaned text's digest:
    * `(id, n_toks, dup_toks, dup_frac, clean_digest)` where
    * `clean_digest = md5` of the document's tokens with every repeated
    * span removed (space-joined; empty string when everything was a
    * repeat). Emitting the digest rather than the rebuilt text keeps the
    * output row width O(1) — the caller that wants the cleaned corpus
    * itself joins tokens against the span table exactly as done here.
    * The collect_list is per-document (bounded by document size, the
    * same envelope as sequence packing), never per-partition.
    */
  def cleanedCorpus(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    cleanAccounting(docs, idCol, textCol, repeatedSpans(docs, idCol, textCol, n))

  /** Per-document accounting + cleaned digest for an ARBITRARY span
    * table `(id, span_start, span_end)` over `docs` — shared by the
    * repeated-substring face and the decontamination scrub.
    */
  def cleanAccounting(
      docs: DataFrame, idCol: String, textCol: String, spans: DataFrame): DataFrame = {
    val id = col(idCol)
    val covered = spans
      .select(id, explode(sequence(col("span_start"), col("span_end"))).as("pos"), lit(1).as("dup"))
    val toks = docs
      .select(
        id,
        posexplode(graft.functions.TextExprs.wordTokens(col(textCol))).as(Seq("pos0", "w")))
      .select(id, (col("pos0") + 1).cast("long").as("pos"), col("w"))
    toks
      .join(covered, Seq(idCol, "pos"), "left")
      .groupBy(id)
      .agg(
        count(lit(1)).as("n_toks"),
        count(col("dup")).as("dup_toks"),
        md5(
          array_join(
            transform(
              array_sort(collect_list(when(col("dup").isNull, struct(col("pos"), col("w"))))),
              x => x.getField("w")),
            " ").cast("binary")).as("clean_digest"))
      // single int->double division: bit-exact across engines, no round
      .withColumn("dup_frac", col("dup_toks") * lit(1.0) / col("n_toks"))
  }
}
