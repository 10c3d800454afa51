package graft.operators

import graft.SparkSpec
import graft.engine.Session
import graft.sources.VersionedLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class InvertedIndexSpec extends SparkSpec {

  private val Terms = Seq("join", "scan", "filter")

  private lazy val docs = Session.table(spark, sf, "documents")

  /** Independent reference: the corpus-scan BM25 (the q_bm25 shape) over
    * an arbitrary document frame — what the index must reproduce.
    */
  private def scanBm25(corpus: DataFrame, terms: Seq[String]): Map[Long, Double] = {
    val tok = corpus.select(col("doc_id"),
      explode(graft.functions.TextExprs.wordTokens(col("text"))).as("w"))
    val lens = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val avgl = lens.agg(avg(col("len")).as("avgl"))
    val n = corpus.agg(count(lit(1)).as("n"))
    val qtok = tok.filter(col("w").isin(terms: _*))
    val dfq = qtok.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
    val tf = qtok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    tf.join(broadcast(dfq), "w").join(lens, "doc_id")
      .crossJoin(broadcast(avgl)).crossJoin(broadcast(n))
      .select(col("doc_id"),
        round(
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avgl"))),
          9).as("c"))
      .groupBy("doc_id").agg(round(sum("c"), 6).as("bm25"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def indexed(idxDir: String, terms: Seq[String] = Terms): Map[Long, Double] =
    InvertedIndex.searchBm25(spark, idxDir, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def statsSums(idxDir: String): (Long, Long, Long) = {
    val r = VersionedLake.read(spark, InvertedIndex.statsDir(idxDir))
      .agg(sum("n_docs"), sum("n_len_docs"), sum("sum_len")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("build + delta append reproduce the corpus-scan BM25 exactly") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx").toString
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idxDir)
    InvertedIndex.append(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idxDir)
    assert(indexed(idxDir) === scanBm25(docs, Terms))
  }

  test("probe reads only the query terms' bucket partitions") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_prune").toString
    InvertedIndex.build(docs, "doc_id", "text", idxDir)
    val out = InvertedIndex.searchBm25(spark, idxDir, Terms)
    out.collect()
    // post-execution scan metrics: the postings scans (the ones reading
    // tf) must have partition-pruned to the query terms' ≤3 buckets
    val totalFiles = VersionedLake.read(spark, InvertedIndex.postingsDir(idxDir))
      .inputFiles.length
    def postingsScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          postingsScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          postingsScans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.requiredSchema.fieldNames.contains("tf") => Seq(f)
      }.flatten
    val scans = postingsScans(out.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.toString.contains("PartitionFilters"), f.toString.take(400))
      val nFiles = f.metrics("numFiles").value
      assert(nFiles > 0 && nFiles < totalFiles,
        s"probe read $nFiles of $totalFiles postings files - no pruning")
    }
  }

  test("CDC sync tracks update, delete and append; answers stay scan-exact") {
    val corpusDir = java.nio.file.Files.createTempDirectory("inv_corpus").toString
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_sync").toString
    val base = docs.filter(col("doc_id") < 200)
    VersionedLake.commit(base, corpusDir)
    // first sync IS the build
    assert(InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir).nonEmpty)
    assert(indexed(idxDir) === scanBm25(base, Terms))

    // update one doc's text, delete one, append two new
    val s2 = spark
    import s2.implicits._
    VersionedLake.upsert(spark, corpusDir,
      Seq((5L, "join join scan epsilon", "en", "web", 22L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      keys = Seq("doc_id"))
    VersionedLake.deleteKeys(spark, corpusDir, Seq(7L).toDF("doc_id"), Seq("doc_id"))
    VersionedLake.appendCommit(
      Seq((9001L, "filter pushdown wins", "en", "web", 20L),
        (9002L, "no relevant terms here", "en", "web", 23L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      corpusDir)
    assert(InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir).nonEmpty)
    assert(indexed(idxDir) === scanBm25(VersionedLake.read(spark, corpusDir), Terms))
    // the updated doc scores under its new text, the deleted doc is gone
    assert(indexed(idxDir).contains(5L) && !indexed(idxDir).contains(7L))
  }

  test("insert-then-delete window nets corpus stats to zero") {
    val corpusDir = java.nio.file.Files.createTempDirectory("inv_corpus_net").toString
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_net").toString
    val base = docs.filter(col("doc_id") < 100)
    VersionedLake.commit(base, corpusDir)
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir)
    val before = statsSums(idxDir)
    val s2 = spark
    import s2.implicits._
    VersionedLake.appendCommit(
      Seq((8801L, "ephemeral join doc", "en", "web", 18L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), corpusDir)
    VersionedLake.deleteKeys(spark, corpusDir, Seq(8801L).toDF("doc_id"), Seq("doc_id"))
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir)
    assert(statsSums(idxDir) === before)
    assert(indexed(idxDir) === scanBm25(base, Terms))
  }

  test("refused window whose only data change is a MoR delete file syncs exactly") {
    val corpusDir = java.nio.file.Files.createTempDirectory("inv_corpus_mor").toString
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_mor").toString
    val base = docs.filter(col("doc_id") < 60)
    VersionedLake.commit(base, corpusDir)
    val v0 = VersionedLake.currentVersion(spark, corpusDir).get
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir)
    // a window the CDC feed REFUSES (rollback inside) whose net data
    // change is one merge-on-read delete file: the data-directory diff
    // is EMPTY (append + rollback cancel; the MoR delete adds no dir),
    // so a dirs-only fallback would call it metadata-only and leave the
    // deleted document indexed forever
    val s2 = spark
    import s2.implicits._
    VersionedLake.appendCommit(
      Seq((8901L, "transient join row", "en", "web", 18L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), corpusDir)
    VersionedLake.rollback(spark, corpusDir, v0)
    VersionedLake.deleteKeysMor(spark, corpusDir, Seq(7L).toDF("doc_id"), Seq("doc_id"))
    assert(VersionedLake.manifest(spark, corpusDir,
      VersionedLake.currentVersion(spark, corpusDir).get) ===
      VersionedLake.manifest(spark, corpusDir, v0),
      "fixture must keep data directories identical across the window")
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir)
    val cur = VersionedLake.read(spark, corpusDir)
    assert(!indexed(idxDir).contains(7L), "MoR-deleted doc must leave the index")
    assert(indexed(idxDir) === scanBm25(cur, Terms))
    // corpus stats netted the deleted doc (N and sum_len shrink exactly)
    val exp = cur.select(size(graft.functions.TextExprs.wordTokens(col("text"))).as("len"))
      .agg(count(lit(1)), count(when(col("len") > 0, 1)),
        coalesce(sum(when(col("len") > 0, col("len"))), lit(0L))).head()
    assert(statsSums(idxDir) === ((exp.getLong(0), exp.getLong(1), exp.getLong(2))))
  }

  test("append refuses a delta that re-supplies indexed document ids") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_guard").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 40), "doc_id", "text", idxDir)
    val e = intercept[IllegalStateException] {
      InvertedIndex.append(docs.filter(col("doc_id") < 10), "doc_id", "text", idxDir)
    }
    assert(e.getMessage.contains("re-supplies"))
    // a genuinely disjoint delta passes the guard (bloom-pruned probe)
    InvertedIndex.append(
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 50), "doc_id", "text", idxDir)
    assert(indexed(idxDir) === scanBm25(docs.filter(col("doc_id") < 50), Terms))
  }

  test("postings are term-clustered: w sorted within every data file") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_clust").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 100), "doc_id", "text", idxDir)
    InvertedIndex.append(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), "doc_id", "text", idxDir)
    val files = VersionedLake.read(spark, InvertedIndex.postingsDir(idxDir)).inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      // a single parquet file reads back in row order: the written
      // clustering is observable as monotonic w — the property that
      // makes the probe's pushed `w IN (...)` skip row groups
      val ws = spark.read.parquet(f).select("w").collect().map(_.getString(0)).toSeq
      assert(ws === ws.sorted, s"postings file not term-clustered: $f")
    }
    // clustering changes layout only: answers stay scan-exact
    assert(indexed(idxDir) === scanBm25(docs.filter(col("doc_id") < 200), Terms))
  }

  test("phrase search: adjacency off positional postings; overlaps and dup terms exact") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_phrase").toString
    InvertedIndex.build(docs, "doc_id", "text", idxDir)
    // independent reference: Scala sliding-window count over the same
    // tokenizer semantics (lowercase, ws-split, empties dropped)
    def direct(terms: Seq[String]): Map[Long, Long] =
      docs.select("doc_id", "text").collect().flatMap { r =>
        val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        val n = if (toks.size < terms.size) 0L
          else toks.sliding(terms.size).count(_ == terms).toLong
        if (n > 0) Some(r.getLong(0) -> n) else None
      }.toMap
    def viaIndex(terms: Seq[String]): Map[Long, Long] =
      InvertedIndex.searchPhrase(spark, idxDir, terms)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twoTerm = direct(Seq("table", "hash"))
    assert(twoTerm.nonEmpty, "fixture phrase must occur - pick another if data changed")
    assert(viaIndex(Seq("table", "hash")) === twoTerm)
    // duplicate-term phrase: overlapping occurrences count like the
    // sliding window ("a a a" holds "a a" twice)
    assert(viaIndex(Seq("a", "a")) === direct(Seq("a", "a")))
    // three terms narrow further and still match exactly
    assert(viaIndex(Seq("table", "hash", "value")) === direct(Seq("table", "hash", "value")))
    // maintenance carries positions: a re-supplied doc re-phrases
    val corpusDir = java.nio.file.Files.createTempDirectory("inv_phrase_corpus").toString
    val idx2 = java.nio.file.Files.createTempDirectory("inv_phrase_idx2").toString
    VersionedLake.commit(docs.filter(col("doc_id") < 50), corpusDir)
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idx2)
    val s2 = spark
    import s2.implicits._
    VersionedLake.upsert(spark, corpusDir,
      Seq((5L, "table hash table hash", "en", "web", 21L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), keys = Seq("doc_id"))
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idx2)
    val after = InvertedIndex.searchPhrase(spark, idx2, Seq("table", "hash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.get(5L).contains(2L), s"updated doc must phrase-count 2, got $after")
  }

  test("proximity search: in-order within-window chains; window=1 equals the phrase") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_near").toString
    InvertedIndex.build(docs, "doc_id", "text", idxDir)
    def viaNear(terms: Seq[String], w: Int): Map[Long, Long] =
      InvertedIndex.searchNear(spark, idxDir, terms, window = w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def viaPhrase(terms: Seq[String]): Map[Long, Long] =
      InvertedIndex.searchPhrase(spark, idxDir, terms)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // window = 1 IS exact adjacency
    assert(viaNear(Seq("table", "hash"), 1) === viaPhrase(Seq("table", "hash")))
    // independent reference: the same chain fold over raw token arrays
    def direct(terms: Seq[String], w: Int): Map[Long, Long] =
      docs.select("doc_id", "text").collect().flatMap { r =>
        val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        val chain = terms.tail.foldLeft(
          toks.zipWithIndex.collect { case (t, i) if t == terms.head => i }) {
          (acc, t) =>
            toks.zipWithIndex.collect {
              case (tk, y) if tk == t && acc.exists(x => y > x && y <= x + w) => y
            }
        }
        if (chain.nonEmpty) Some(r.getLong(0) -> chain.size.toLong) else None
      }.toMap
    val wide = viaNear(Seq("table", "hash"), 4)
    assert(wide === direct(Seq("table", "hash"), 4))
    assert(wide.size >= viaPhrase(Seq("table", "hash")).size,
      "a wider window can only admit more documents")
    assert(viaNear(Seq("scan", "group", "value"), 3) ===
      direct(Seq("scan", "group", "value"), 3))
  }

  test("sync replays exactly-once: a repeated window commits nothing") {
    val corpusDir = java.nio.file.Files.createTempDirectory("inv_corpus_once").toString
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_once").toString
    VersionedLake.commit(docs.filter(col("doc_id") < 50), corpusDir)
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir)
    val vP = VersionedLake.currentVersion(spark, InvertedIndex.postingsDir(idxDir))
    val vS = VersionedLake.currentVersion(spark, InvertedIndex.statsDir(idxDir))
    InvertedIndex.sync(spark, corpusDir, "doc_id", "text", idxDir)
    assert(VersionedLake.currentVersion(spark, InvertedIndex.postingsDir(idxDir)) === vP)
    assert(VersionedLake.currentVersion(spark, InvertedIndex.statsDir(idxDir)) === vS)
  }

  test("bucket evolution: declare 32 -> 64 live, probes exact mid-migration, incremental drain") {
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_evolve").toString
    val gen32 = docs.filter(col("doc_id") % 2 === 1)
    val gen64 = docs.filter(col("doc_id") % 2 === 0)
    InvertedIndex.build(gen32, "doc_id", "text", idxDir)
    // one metadata write re-steers every later commit; zero data moved
    InvertedIndex.setNumBuckets(spark, idxDir, 64)
    assert(InvertedIndex.numBuckets(spark, idxDir) === 64)
    assert(InvertedIndex.legacyBuckets(spark, idxDir) === Seq(32))
    InvertedIndex.append(gen64, "doc_id", "text", idxDir)
    // mid-migration probe cost: at most one bucket PER GENERATION per term
    Terms.foreach { t =>
      val bs = InvertedIndex.bucketsOf(spark, idxDir, t)
      assert(bs.nonEmpty && bs.size <= 2, s"term '$t' probes ${bs.size} buckets")
    }
    // answers stay scan-exact while both generations coexist
    assert(indexed(idxDir) === scanBm25(docs, Terms))
    val phraseMid = InvertedIndex.searchPhrase(spark, idxDir, Seq("join", "scan"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // incremental drain: bounded chunks, probes exact between every chunk
    var remaining = InvertedIndex.migrateBuckets(spark, idxDir, maxBuckets = 8)
    var guard = 0
    while (remaining > 0 && guard < 20) {
      assert(indexed(idxDir) === scanBm25(docs, Terms),
        "probe between migration chunks must stay exact")
      remaining = InvertedIndex.migrateBuckets(spark, idxDir, maxBuckets = 8)
      guard += 1
    }
    assert(remaining === 0 && guard < 20)
    assert(InvertedIndex.legacyBuckets(spark, idxDir).isEmpty,
      "a drained migration must clear the legacy list")
    // fully on the declared count: single-bucket probes, no stale rows
    Terms.foreach(t => assert(InvertedIndex.bucketsOf(spark, idxDir, t).size === 1))
    val post = VersionedLake.read(spark, InvertedIndex.postingsDir(idxDir))
    assert(post.filter(col("b") =!= pmod(xxhash64(col("w")), lit(64L))).isEmpty,
      "every posting must sit in its declared-count bucket after the drain")
    assert(indexed(idxDir) === scanBm25(docs, Terms))
    val phrasePost = InvertedIndex.searchPhrase(spark, idxDir, Seq("join", "scan"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(phrasePost === phraseMid, "positional probes unchanged by the re-bucket")
    // the sync watermark survived the migration commits (replaceWhere
    // carries txns) - a later append still enforces its freshness contract
    intercept[IllegalStateException](
      InvertedIndex.append(gen32.limit(1), "doc_id", "text", idxDir))
  }

  test("migration crash-retry: publish precedes legacy retirement, probes never miss") {
    import graft.sources.{LakeProps, LakeTxn}
    val idxDir = java.nio.file.Files.createTempDirectory("inv_idx_crash").toString
    InvertedIndex.build(docs, "doc_id", "text", idxDir)
    val postDir = InvertedIndex.postingsDir(idxDir)
    val statsDir = InvertedIndex.statsDir(idxDir)
    val preV = VersionedLake.currentVersion(spark, postDir).get
    InvertedIndex.setNumBuckets(spark, idxDir, 48)
    assert(InvertedIndex.migrateBuckets(spark, idxDir) === 0)
    // SIMULATE the ADVICE crash window: replaceWhere landed (live
    // postings are 48-bucketed) but publishCurrent never ran — the txn
    // record still pins the PRE-migration 32-bucketed version, and the
    // legacy declaration survives
    LakeTxn.publish(spark, idxDir, Map(
      "postings" -> preV,
      "stats" -> VersionedLake.currentVersion(spark, statsDir).get))
    LakeProps.set(spark, postDir, "buckets.legacy", "32")
    // mid-crash probes stay exact: candidate buckets span BOTH layouts,
    // the pinned postings are old-bucketed, the superset finds them
    assert(indexed(idxDir) === scanBm25(docs, Terms))
    // the retry takes the staleVals.isEmpty branch: it must RE-PIN the
    // rewritten postings BEFORE retiring the legacy probe keys — the
    // reverse order leaves new-count-only probes reading old-bucketed
    // pinned postings (silent misses)
    assert(InvertedIndex.migrateBuckets(spark, idxDir) === 0)
    assert(InvertedIndex.legacyBuckets(spark, idxDir).isEmpty)
    assert(LakeTxn.current(spark, idxDir).flatMap(_.get("postings"))
      === VersionedLake.currentVersion(spark, postDir),
      "the retry must pin the rewritten postings")
    Terms.foreach(t => assert(InvertedIndex.bucketsOf(spark, idxDir, t).size === 1))
    assert(indexed(idxDir) === scanBm25(docs, Terms),
      "post-retry single-bucket probes must find every posting")
  }
}
