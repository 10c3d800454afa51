package graft.functions

import graft.SparkSpec
import graft.operators.MinHash
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native WordShingles kernel must be indistinguishable from the
  * built-in higher-order-function formulation it replaces.
  */
class TextExprsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("wordShingles(2) == HOF shingles over real documents") {
    val hof = docs
      .select(col("doc_id"), MinHash.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(MinHash.shingles(col("ws"), 2)).as("s"))
    val native = docs
      .select(col("doc_id"), explode(TextExprs.wordShingles(col("text"), 2)).as("s"))
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("wordShingles(1) == distinct lowercased words") {
    val hof = docs
      .select(col("doc_id"), explode(array_distinct(MinHash.words(col("text")))).as("s"))
    val native = docs
      .select(col("doc_id"), explode(TextExprs.wordShingles(col("text"), 1)).as("s"))
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("wordShingles edge cases") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", "  Hello   WORLD  hello world "),
      ("b", "one"),
      ("c", ""),
      ("d", "x y x y x")).toDF("id", "text")
    val got = df.select(col("id"), TextExprs.wordShingles(col("text"), 2).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a") === Seq("hello world", "world hello"))
    assert(got("b") === Seq.empty)
    assert(got("c") === Seq.empty)
    assert(got("d") === Seq("x y", "y x"))
  }

  test("native wordTokens == HOF words over real documents") {
    val hof = docs.select(col("doc_id"), explode(MinHash.words(col("text"))).as("w"))
    val native = docs.select(col("doc_id"), explode(TextExprs.wordTokens(col("text"))).as("w"))
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  /** Reference winnowing, step 1: the 60-bit md5 k-gram hashes of the
    * normalized text.
    */
  private def kgramHashes(norm: Column, k: Int): Column =
    transform(
      sequence(lit(1), length(norm) - (k - 1)),
      i => conv(substring(md5(norm.substr(i, lit(k)).cast("binary")), 1, 15), 16, 10)
        .cast("long"))

  /** Step 2: the distinct minima of each window of `w` consecutive hashes.
    * `hashes` must be a column reference: the lambda reads it once per
    * window, so an inline hash expression would be recomputed per window.
    */
  private def fingerprints(hashes: Column, w: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(hashes) - (w - 1)),
        j => array_min(slice(hashes, j, lit(w)))))

  test("native winnowFingerprints == HOF formulation over real documents") {
    import graft.operators.Winnow
    val norm = docs.select(col("doc_id"), Winnow.normalize(col("text")).as("t"))
      .filter(length(col("t")) >= 11)
    val hof = norm
      .select(col("doc_id"), kgramHashes(col("t"), 8).as("h"))
      .select(col("doc_id"), explode(fingerprints(col("h"), 4)).as("fp"))
    val native = norm.select(
      col("doc_id"), explode(TextExprs.winnowFingerprints(col("t"), 8, 4)).as("fp"))
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("dot_product SQL registration via GraftExtensions") {
    val r = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r === 11.0)
  }

  test("every native text kernel is reachable from pure SQL") {
    assert(
      spark.sql("SELECT word_tokens('The  quick Fox') AS t").head().getSeq[String](0)
        === Seq("the", "quick", "fox"))
    assert(
      spark.sql("SELECT word_shingles_all('a b c d', 3) AS g").head().getSeq[String](0)
        === Seq("a b c", "b c d"))
    assert(
      spark.sql("SELECT word_shingles('x y x y', 2) AS g").head().getSeq[String](0)
        === Seq("x y", "y x"))
    assert(
      spark.sql("SELECT nfc_normalize('café') AS t").head().getString(0) === "café")
    // winnow: SQL face agrees with the Column-API kernel on the same input
    val txt = "the winnowing fingerprint of this sentence"
    val viaSql = spark.sql(s"SELECT winnow_fingerprints('$txt', 8, 4) AS f")
      .head().getSeq[Long](0)
    val viaCol = spark.range(1)
      .select(graft.functions.TextExprs.winnowFingerprints(
        org.apache.spark.sql.functions.lit(txt), 8, 4).as("f"))
      .head().getSeq[Long](0)
    assert(viaSql === viaCol && viaSql.nonEmpty)
  }

  test("nfc composes decomposed sequences and is a no-op on NFC input") {
    val s = spark
    import s.implicits._
    val decomposedE = "e\u0301" // e + combining acute
    val precomposedE = "\u00e9" // e-acute, single codepoint
    val angstromSign = "\u212b" // ANGSTROM SIGN, NFC-composes to U+00C5
    val df = Seq(
      ("dec", s"caf$decomposedE"),
      ("pre", s"caf$precomposedE"),
      ("ascii", "plain ascii"),
      ("angstrom", angstromSign),
      ("empty", "")).toDF("id", "text")
    val got = df
      .select(
        col("id"),
        TextExprs.nfc(col("text")).as("t"),
        length(TextExprs.nfc(col("text"))).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got("dec") === ((s"caf$precomposedE", 4)))
    assert(got("pre") === ((s"caf$precomposedE", 4)))
    assert(got("ascii") === (("plain ascii", 11)))
    assert(got("angstrom") === (("\u00c5", 1)))
    assert(got("empty") === (("", 0)))
    // null-safe
    val n = Seq(("x", null: String)).toDF("id", "text")
      .select(TextExprs.nfc(col("text"))).head()
    assert(n.isNullAt(0))
  }
}
