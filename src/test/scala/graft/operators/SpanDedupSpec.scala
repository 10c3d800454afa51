package graft.operators

import graft.SparkSpec

class SpanDedupSpec extends SparkSpec {

  private val s = spark
  import s.implicits._

  // doc 1 is the canonical owner of the repeated passage; docs 2 and 3
  // embed the same 7-token run mid-document; doc 4 repeats a phrase only
  // WITHIN itself (no cross-doc copy); doc 5 is clean.
  private val passage = "the quick brown fox jumps over fences"
  private def corpus = Seq(
    (1L, s"alpha beta $passage gamma delta"),
    (2L, s"one two three $passage four five six"),
    (3L, s"$passage tail words here"),
    (4L, "echo repeat me repeat me repeat me zulu echo repeat me repeat me repeat me zulu"),
    (5L, "entirely unrelated text with no copies at all anywhere")
  ).toDF("doc_id", "text")

  test("spans land at the exact token offsets of the embedded passage") {
    val spans = SpanDedup.repeatedSpans(corpus, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // passage = 7 tokens; doc 2: tokens 4..10, doc 3: tokens 1..7
    assert(spans === Set((2L, 4L, 10L), (3L, 1L, 7L)))
  }

  test("keep-first: the minimum-id owner never reports a span") {
    val spans = SpanDedup.repeatedSpans(corpus, "doc_id", "text", n = 5)
    assert(spans.filter("doc_id = 1").count() === 0)
  }

  test("within-document repetition alone produces no span") {
    val spans = SpanDedup.repeatedSpans(corpus, "doc_id", "text", n = 5)
    assert(spans.filter("doc_id = 4").count() === 0)
  }

  test("overlapping gram hits merge into one maximal span") {
    // the 7-token passage yields three overlapping 5-gram hits (offsets
    // p, p+1, p+2) per copy — each must union into a single island
    val spans = SpanDedup.repeatedSpans(corpus, "doc_id", "text", n = 5)
    assert(spans.filter("doc_id = 2").count() === 1)
    val r = spans.filter("doc_id = 2").head()
    assert(r.getAs[Long]("n_dup_grams") === 3L)
    assert(r.getAs[Long]("span_toks") === 7L)
  }

  test("two separated repeats in one doc stay two spans") {
    val two = Seq(
      (1L, s"$passage filler one two three four five six seven $passage"),
      (2L, s"start pad words $passage middle padding tokens here now $passage end bits")
    ).toDF("doc_id", "text")
    val spans = SpanDedup.repeatedSpans(two, "doc_id", "text", n = 5)
      .filter("doc_id = 2").collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((4L, 10L), (16L, 22L)))
  }

  test("cleanedCorpus strips exactly the span tokens, keep-first intact") {
    val cleaned = SpanDedup.cleanedCorpus(corpus, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0),
        (r.getAs[Long]("n_toks"), r.getAs[Long]("dup_toks"), r.getAs[String]("clean_digest"))))
      .toMap
    assert(cleaned(1L)._2 === 0L) // canonical owner untouched
    assert(cleaned(2L) === ((13L, 7L, md5hex("one two three four five six"))))
    assert(cleaned(3L) === ((10L, 7L, md5hex("tail words here"))))
    assert(cleaned(4L)._2 === 0L)
    assert(cleaned(5L)._2 === 0L)
  }

  test("a fully-duplicated document cleans to the empty string") {
    val dup = Seq((1L, passage), (2L, passage)).toDF("doc_id", "text")
    val r = SpanDedup.cleanedCorpus(dup, "doc_id", "text", n = 5)
      .filter("doc_id = 2").head()
    assert(r.getAs[Long]("dup_toks") === 7L)
    assert(r.getAs[String]("clean_digest") === md5hex(""))
  }

  test("incremental spans equal full-corpus spans restricted to the delta") {
    val docs = graft.engine.Session.table(spark, sf, "documents")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Long]("span_start"), r.getAs[Long]("span_end"),
        r.getAs[Long]("n_dup_grams"))).toSet
    val full = SpanDedup.repeatedSpans(docs, "doc_id", "text", n = 5)
      .filter("doc_id >= 250")
    val idx = SpanDedup.ownerIndex(docs.filter("doc_id < 250"), "doc_id", "text", n = 5)
    val inc = SpanDedup.incrementalSpans(
      idx, docs.filter("doc_id >= 250"), "doc_id", "text", n = 5)
    assert(key(inc) === key(full))
    assert(inc.count() > 0, "fixture must exercise the delta path")
  }

  private def md5hex(t: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
}
