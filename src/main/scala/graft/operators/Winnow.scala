package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash every
  * k-char gram of the normalized text, slide a window of w consecutive
  * hashes, keep each window's minimum — the distinct minima are the
  * document's fingerprint set. Guarantees: any shared substring of length
  * >= k + w - 1 produces at least one shared fingerprint, and the selected
  * density is ~2/(w+1) of all grams — a size-bounded sketch with a
  * containment guarantee, which plain min-hashing doesn't give.
  *
  * Hashing: 60-bit md5 prefix per gram (portable — the DuckDB oracle
  * computes the identical value) rather than a true rolling polynomial;
  * same output set, O(k) per gram instead of O(1), irrelevant off the
  * hot path. Fingerprints explode to (doc_id, fp) rows — the layout an
  * inverted fingerprint index partitions on at scale.
  */
object Winnow {

  /** whitespace-collapsed lowercase text. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** docs(idCol, textCol) → (idCol, fp) exploded distinct fingerprints;
    * documents shorter than k + w - 1 normalized chars yield no rows.
    * Uses the native [[graft.functions.WinnowFingerprintsExpr]] kernel —
    * identical output to the higher-order-function formulation TextExprsSpec
    * keeps as its reference, at a fraction of the cost: the HOF form
    * interprets an md5+conv expression per k-gram per row.
    */
  def fingerprintRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4): DataFrame =
    docs
      .select(col(idCol), normalize(col(textCol)).as("_t"))
      .select(
        col(idCol),
        explode(graft.functions.TextExprs.winnowFingerprints(col("_t"), k, w)).as("fp"))

  /** The DuckDB oracle computing identical fingerprints. */
  def oracleSql(k: Int = 8, w: Int = 4): String =
    s"""WITH norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |hashes AS (
       |  SELECT doc_id,
       |    [CAST(concat('0x', substr(md5(substr(t, i, $k)), 1, 15)) AS BIGINT)
       |     for i in range(1, len(t) - $k + 2)] AS hs
       |  FROM norm WHERE len(t) >= ${k + w - 1}),
       |fps AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [list_min(hs[j:j+${w - 1}]) for j in range(1, len(hs) - $w + 2)])) AS fp
       |  FROM hashes)
       |SELECT doc_id, fp FROM fps""".stripMargin
}
