package graft.operators

import graft.sources.{LakeTxn, VersionedLake}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT, incrementally-maintained INVERTED TEXT INDEX — the
  * lexical-retrieval analogue of [[IvfIndex]]: BM25 over 100 TB of text
  * needs a postings index, not a corpus scan.
  *
  * The scan-based ranking path (the `q_bm25` query shape) tokenizes the
  * whole corpus per query: explode + filter + three aggregations over
  * every document ever ingested — fine for one-off analysis, wrong when
  * the corpus takes append commits all day and retrieval is interactive.
  * This index tokenizes each document ONCE at maintenance time and
  * persists two member tables under `indexDir` as [[VersionedLake]]
  * tables, pinned consistent by a [[LakeTxn]] record:
  *
  *   - `indexDir/postings` — one row per (document, term):
  *     `(b, w, doc_id, tf, len)`, PARTITIONED BY `b = xxhash64(w) mod B`
  *     so a query's probe partition-prunes to the buckets of its own
  *     terms — O(postings of the query terms) read, never the corpus.
  *     `tf` (term frequency) and `len` (the document's token count,
  *     denormalized onto every posting exactly so the probe never joins
  *     a corpus-sized doc-length table) make the row self-sufficient for
  *     BM25. A bloom layer on `doc_id` serves MAINTENANCE: document
  *     updates/deletes probe by id — the high-cardinality interleaved
  *     key where min/max stats never prune.
  *   - `indexDir/stats` — per-maintenance-commit PARTIAL corpus counts
  *     `(n_docs, n_len_docs, sum_len)`; deletions append NEGATIVE
  *     partials. The corpus-level BM25 constants (N, average length) are
  *     the SUM of this tiny table — O(commits), not O(corpus), per query.
  *
  * [[searchBm25]] scores exactly the scan path's function (same
  * formula, same per-term round(·,9) → sum → round(·,6) discipline), so
  * the index is verifiable against an independent corpus-scan oracle:
  * document frequencies come off the pruned postings themselves
  * (count-distinct over the query terms' rows only) and N/avgdl off the
  * stats partials — every statistic is exact, the index changes WHERE
  * the work happens, never the answer.
  *
  * Maintenance mirrors [[IvfIndex.sync]]: a [[VersionedLake]] corpus
  * syncs by its row-level CDC feed (O(changed documents) tokenization,
  * one keyed-CoW upsert whose probe carries deleted ids — vanished
  * documents' postings drop in the SAME commit), falling back to the
  * manifest diff when the feed refuses the window. Exactly-once rides
  * txn watermarks on BOTH members (a replayed sync no-ops per member,
  * so a crash between the postings and stats commits self-heals on
  * replay).
  *
  * Reference behavior: the reference has no retrieval surface at all —
  * its text handling is scalar cleanup (`/root/reference/parser/
  * functions.py:9-25`); this operator is part of the LLM-pipeline
  * extension surface.
  */
object InvertedIndex {

  /** DEFAULT term-hash partition count: a probe for q terms reads ≤ q
    * buckets. 32 keeps directory counts civil while still cutting a
    * probe's scan to ~3% of postings. NOT a build-time commitment: the
    * count is a DECLARED property of the index ([[setNumBuckets]] — one
    * metadata write, the partition-spec-evolution idea applied to the
    * bucket layout), new postings commits bucket under the declaration,
    * probes read every generation still present (≤ generations·|terms|
    * buckets), and [[migrateBuckets]] re-buckets incrementally — growing
    * a 100 TB corpus 10× never forces a full index rebuild.
    */
  val NumBuckets = 32

  def postingsDir(indexDir: String): String = s"$indexDir/postings"
  def statsDir(indexDir: String): String = s"$indexDir/stats"

  private val BucketsKey = "buckets.n"
  private val LegacyKey = "buckets.legacy"

  /** The declared bucket count new postings commits use ([[NumBuckets]]
    * when never declared — every pre-evolution index keeps working).
    */
  def numBuckets(spark: SparkSession, indexDir: String): Int =
    graft.sources.LakeProps.get(spark, postingsDir(indexDir))
      .get(BucketsKey).map(_.toInt).getOrElse(NumBuckets)

  /** Bucket counts OLDER generations of postings may still sit under —
    * probes must consider them until [[migrateBuckets]] drains them.
    */
  def legacyBuckets(spark: SparkSession, indexDir: String): Seq[Int] =
    graft.sources.LakeProps.get(spark, postingsDir(indexDir))
      .get(LegacyKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map(_.toInt)

  /** DECLARE a new bucket count — one metadata write, zero data moved:
    * commits from now on bucket under `n`; the old count joins the
    * legacy list so probes keep finding old-generation postings (each
    * term probes ≤ one bucket per generation). Write order is
    * legacy-first: a probe racing the declaration sees at worst a
    * superset of candidate buckets, never a miss. Run [[migrateBuckets]]
    * to drain the old generation and restore single-bucket probes.
    */
  def setNumBuckets(spark: SparkSession, indexDir: String, n: Int): Unit = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    val cur = numBuckets(spark, indexDir)
    if (cur == n) return
    val legacy = ((legacyBuckets(spark, indexDir) :+ cur).distinct.filterNot(_ == n))
    graft.sources.LakeProps.set(spark, postingsDir(indexDir), LegacyKey,
      legacy.mkString(","))
    graft.sources.LakeProps.set(spark, postingsDir(indexDir), BucketsKey, n.toString)
  }

  /** MIGRATE old-generation postings onto the declared bucket count, up
    * to `maxBuckets` stale bucket VALUES per call (the incremental
    * unit: one atomic replaceWhere per call rewrites only the
    * directories holding those values — bounded work, probes stay
    * correct throughout because they read both generations until the
    * legacy list clears). Returns the number of stale bucket values
    * still remaining AFTER this call; 0 means the index is fully on the
    * declared count and single-bucket probes are restored.
    */
  def migrateBuckets(
      spark: SparkSession,
      indexDir: String,
      maxBuckets: Int = Int.MaxValue): Int = {
    val postDir = postingsDir(indexDir)
    if (legacyBuckets(spark, indexDir).isEmpty) return 0
    val cur = numBuckets(spark, indexDir)
    val wrongB = col("b") =!= pmod(xxhash64(col("w")), lit(cur.toLong))
    val staleVals = VersionedLake.read(spark, postDir)
      .filter(wrongB).select("b").distinct().orderBy("b")
      .collect().map(_.getLong(0)).toSeq // bounded by Σ legacy counts
    if (staleVals.isEmpty) {
      // Publish BEFORE retiring the legacy probe keys: a prior call (or a
      // crashed one) may have rewritten the postings without re-pinning
      // them, and probes compute candidate buckets from LIVE props but
      // read the TXN-PINNED version — unsetting first would leave a
      // window (durable, after a crash) where new-count-only probes read
      // old-bucketed pinned postings and silently miss.
      publishCurrent(spark, indexDir)
      graft.sources.LakeProps.unset(spark, postDir, LegacyKey)
      return 0
    }
    val chunkVals = staleVals.take(maxBuckets)
    val post = VersionedLake.read(spark, postDir)
    val chunk = post
      .filter(col("b").isin(chunkVals: _*) && wrongB)
      .withColumn("b", pmod(xxhash64(col("w")), lit(cur.toLong)))
    VersionedLake.replaceWhere(spark, postDir,
      col("b").isin(chunkVals: _*) && wrongB, chunk,
      changeArtifact = false)
    val remaining = staleVals.size - chunkVals.size
    // Pin the rewritten postings FIRST, then retire the legacy probe
    // keys — the reverse order opens a window where bucketsOf (live
    // props) yields new-count-only buckets while readMember still serves
    // the pre-migration pinned version, i.e. silent probe misses.
    publishCurrent(spark, indexDir)
    if (remaining == 0) graft.sources.LakeProps.unset(spark, postDir, LegacyKey)
    remaining
  }

  private val Post = "postings"
  private val Stats = "stats"
  private[graft] val SyncApp = "corpus-sync"

  /** Maintenance probes by doc_id (keyed-CoW upsert of a document's
    * postings) — bloom is the only pruning layer that works for
    * interleaved high-cardinality ids (see [[IvfIndex]]'s AsgBloom
    * rationale).
    */
  private val PostBloom =
    Some(VersionedLake.BloomConfig(Seq("doc_id"), bits = 1 << 18))

  /** The shared tokenizer: lowercase, split on whitespace, drop empties —
    * identical to the corpus-scan BM25 path so index answers match it.
    */
  private def words(c: Column): Column = graft.functions.TextExprs.wordTokens(c)

  /** Bucket of one term under a count, evaluated driver-side through the
    * SAME Catalyst expression the postings writer uses — the probe's
    * pruning key and the stored partition key cannot drift.
    */
  def bucketOf(term: String, n: Int = NumBuckets): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    // seed 42L = the `functions.xxhash64` default the writer uses
    Pmod(XxHash64(Seq(Literal(term)), 42L), Literal(n.toLong))
      .eval().asInstanceOf[Long]
  }

  /** EVERY candidate bucket of one term: its bucket under the declared
    * count plus under each legacy count still present — the
    * mid-migration probe key set (≤ one bucket per generation; the
    * `w IN (...)` filter keeps the superset exact).
    */
  private[operators] def bucketsOf(spark: SparkSession, indexDir: String, term: String): Seq[Long] =
    (numBuckets(spark, indexDir) +: legacyBuckets(spark, indexDir))
      .map(n => bucketOf(term, n)).distinct

  // ------------------------------------------------------------------
  // Txn-resolved reads (the IvfIndex pattern): the LakeTxn record pins
  // the member versions that belong together.
  // ------------------------------------------------------------------

  private def readMember(spark: SparkSession, indexDir: String, member: String): DataFrame = {
    val dir = member match {
      case Post  => postingsDir(indexDir)
      case Stats => statsDir(indexDir)
    }
    LakeTxn.current(spark, indexDir).flatMap(_.get(member)) match {
      case Some(v) => VersionedLake.readVersion(spark, dir, v)
      case None    => VersionedLake.read(spark, dir)
    }
  }

  /** (b, w, doc_id, tf, len, pos) postings of `docs` — the one
    * tokenization pass a document ever pays. POSITIONAL: `pos` is the
    * term's sorted token offsets within the document, which is what
    * lifts the index from OR-of-terms BM25 to PHRASE queries
    * ([[searchPhrase]]) — the Lucene positional-postings bargain. The
    * arrays ride the same row as tf/len (no separate position table to
    * join at probe time), and sorting them at build makes the probe's
    * adjacency intersections order-stable.
    */
  private def postingsOf(
      docs: DataFrame, idCol: String, textCol: String, nBuckets: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(words(col(textCol)))).toDF("doc_id", "pos", "w")
    val lens = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
    tok.groupBy("doc_id", "w")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("pos"))
      .join(lens, "doc_id")
      .withColumn("b", pmod(xxhash64(col("w")), lit(nBuckets.toLong)))
      .select("b", "w", "doc_id", "tf", "len", "pos")
  }

  /** TERM-CLUSTERED postings layout: every postings commit sorts by `w`
    * inside each bucket's files ([[VersionedLake]]'s `sortWithin`), so
    * every parquet row group covers a narrow term range and a probe's
    * pushed `w IN (...)` filter skips row groups INSIDE the bucket it
    * already partition-pruned to — whole-bucket reads shrink to
    * near-term-only reads with zero read-path code (footer min/max
    * stats do the work). Cost: one in-task sort per maintenance batch,
    * amortized like the write; a keyed-CoW rewrite of a survivor file
    * streams it in order, so clustering survives maintenance.
    */
  private val PostSort = Seq("w")

  /** One (n_docs, n_len_docs, sum_len) partial for `docs`, `sign`-ed so
    * deletions subtract. `n_len_docs` counts documents with ≥1 token
    * (zero-token documents join N but not the average-length base —
    * exactly the scan path's avg-over-tokenized-docs semantics).
    */
  private def statsPartial(docs: DataFrame, idCol: String, textCol: String,
      sign: Int): DataFrame = {
    val s = lit(sign.toLong)
    docs.select(col(idCol).as("doc_id"), size(words(col(textCol))).as("len"))
      .agg(
        (s * count(lit(1))).as("n_docs"),
        (s * count(when(col("len") > 0, 1))).as("n_len_docs"),
        (s * coalesce(sum(when(col("len") > 0, col("len"))), lit(0L))).as("sum_len"))
  }

  /** A net stats partial: `pos` minus `neg`'s magnitudes, as one row. */
  private def statsNet(pos: DataFrame, neg: DataFrame): DataFrame =
    pos.select(
      col("n_docs").as("p1"), col("n_len_docs").as("p2"), col("sum_len").as("p3"))
      .crossJoin(neg)
      .select(
        (col("p1") + col("n_docs")).as("n_docs"),
        (col("p2") + col("n_len_docs")).as("n_len_docs"),
        (col("p3") + col("sum_len")).as("sum_len"))

  /** Tokenize `docs` and commit the full index (snapshot commits on both
    * members, pinned by one txn record). The one corpus-scan event in
    * the index lifecycle.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, indexDir: String): Long = {
    val spark = docs.sparkSession
    val vP = VersionedLake.commit(
      postingsOf(docs, idCol, textCol, numBuckets(spark, indexDir)),
      postingsDir(indexDir),
      parts = Seq("b"), bloom = PostBloom, sortWithin = PostSort)
    val vS = VersionedLake.commit(statsPartial(docs, idCol, textCol, 1), statsDir(indexDir))
    LakeTxn.publish(spark, indexDir, Map(Post -> vP, Stats -> vS))
    vP
  }

  /** Maintain for an append-only document delta: tokenize ONLY `delta`
    * and append-commit its postings + one stats partial — O(delta).
    *
    * CONTRACT: every `delta` document id must be NEW to the index —
    * re-supplying an existing document would double-count its postings
    * and corpus stats. The contract is ENFORCED (not just documented):
    * the default probes the existing postings for the delta's ids
    * through the keyed-CoW pruning layers (manifest stats, then the
    * doc_id bloom — the same machinery [[sync]]'s upsert prunes with),
    * so a disjoint delta proves itself against metadata and the guard
    * stays O(delta); a real overlap throws, pointing at [[sync]] (whose
    * keyed upsert replaces postings and nets the stats). Callers with
    * an external uniqueness guarantee pass `assumeNew = true` to skip
    * the probe. Blind spot, by construction: a previously-appended
    * ZERO-TOKEN document has no postings row, so re-supplying it is
    * undetectable here and still double-counts `n_docs`.
    */
  def append(delta: DataFrame, idCol: String, textCol: String, indexDir: String,
      assumeNew: Boolean = false): Long = {
    val spark = delta.sparkSession
    if (!assumeNew) {
      val postDir = postingsDir(indexDir)
      VersionedLake.currentVersion(spark, postDir).foreach { v =>
        val ids = delta.select(col(idCol).as("doc_id")).distinct()
        val candidates = VersionedLake.pruneCandidates(spark, postDir, v, ids, Seq("doc_id"))
        val overlaps = candidates.nonEmpty && !VersionedLake
          .readDirsWithDeletes(spark, postDir, v, candidates,
            VersionedLake.versionSchema(spark, postDir, v))
          .join(ids, Seq("doc_id"), "left_semi")
          .isEmpty
        if (overlaps)
          throw new IllegalStateException(
            s"append() delta re-supplies document ids already indexed in $indexDir " +
              "- appending would double-count their postings and corpus stats; " +
              "maintain overlapping batches through sync() (lake corpora) or " +
              "rebuild with build(), or pass assumeNew = true only when ids " +
              "are externally guaranteed fresh")
      }
    }
    val vP = VersionedLake.appendCommit(
      postingsOf(delta, idCol, textCol, numBuckets(spark, indexDir)),
      postingsDir(indexDir), parts = Seq("b"), bloom = PostBloom,
      sortWithin = PostSort)
    val vS = VersionedLake.appendCommit(statsPartial(delta, idCol, textCol, 1),
      statsDir(indexDir))
    LakeTxn.publish(spark, indexDir, Map(Post -> vP, Stats -> vS))
    vP
  }

  /** Maintain the index from a [[VersionedLake]]-committed document
    * corpus: the corpus's row-level CDC feed says exactly which
    * documents changed since the last sync, so the window costs
    * O(changed documents) tokenization + ONE keyed-CoW postings commit
    * (updates re-supply their postings, deletions ride the probe) + one
    * tiny stats partial. Falls back to the manifest diff (O(changed
    * directories)) when the feed refuses the window — a rollback or a
    * pre-artifact legacy commit. Exactly-once per member via txn
    * watermarks (`appId = "corpus-sync"`, `batchId = corpus version`);
    * a crashed sync replays idempotently, member by member.
    *
    * Returns the corpus version now reflected, or None when the corpus
    * has no published version.
    */
  def sync(
      spark: SparkSession,
      corpusDir: String,
      idCol: String,
      textCol: String,
      indexDir: String): Option[Long] = {
    val corpusV = VersionedLake.currentVersion(spark, corpusDir).getOrElse(return None)
    val postDir = postingsDir(indexDir)
    VersionedLake.currentVersion(spark, postDir) match {
      case None =>
        // first sync IS the build, with the corpus watermark riding the
        // same commits (crash-replay safe)
        val snapshot = VersionedLake.readVersion(spark, corpusDir, corpusV)
        val vP = VersionedLake.appendCommitTxn(
          postingsOf(snapshot, idCol, textCol, numBuckets(spark, indexDir)),
          postDir, appId = SyncApp, batchId = corpusV,
          parts = Seq("b"), bloom = PostBloom, sortWithin = PostSort)
        val vS = VersionedLake.appendCommitTxn(statsPartial(snapshot, idCol, textCol, 1),
          statsDir(indexDir), appId = SyncApp, batchId = corpusV)
        LakeTxn.publish(spark, indexDir, Map(Post -> vP, Stats -> vS))
        Some(corpusV)
      case Some(postV) =>
        val lastSynced = VersionedLake.txnWatermarks(spark, postDir, postV)
          .getOrElse(SyncApp,
            throw new IllegalStateException(
              s"$indexDir was built from a DataFrame, not synced from a lake " +
                "corpus - keep maintaining it through append()"))
        if (corpusV <= lastSynced) {
          publishCurrent(spark, indexDir)
          return Some(lastSynced)
        }
        val applied =
          syncRowDelta(spark, corpusDir, idCol, textCol, indexDir, lastSynced, corpusV)
            .getOrElse(
              syncManifestDiff(spark, corpusDir, idCol, textCol, indexDir,
                lastSynced, corpusV))
        publishCurrent(spark, indexDir)
        Some(applied)
    }
  }

  /** Pin whatever both members currently publish — the post-maintenance
    * (or post-crash-repair) txn record. Idempotent.
    */
  private def publishCurrent(spark: SparkSession, indexDir: String): Unit = {
    val tables = Seq(
      Post -> VersionedLake.currentVersion(spark, postingsDir(indexDir)),
      Stats -> VersionedLake.currentVersion(spark, statsDir(indexDir)))
      .collect { case (m, Some(v)) => m -> v }.toMap
    LakeTxn.publishIfChanged(spark, indexDir, tables): Unit
  }

  /** O(changed rows) maintenance off the corpus CDC feed. The window's
    * NET effect per document is reconstructed from its event sequence:
    *
    *   - state AFTER the window = the latest non-preimage event (version
    *     desc, add beats remove within a version — replace_where commits
    *     a delete and the re-insert at the SAME version);
    *   - state BEFORE the window = the EARLIEST event, where a
    *     delete/update_preimage first event carries the prior row
    *     verbatim and an insert first event proves the document did not
    *     exist — so an insert-then-delete window nets to nothing instead
    *     of decrementing corpus stats for a document the index never
    *     counted.
    *
    * Both commits are independently idempotent (shared watermark), so a
    * crash between them heals on replay.
    */
  private def syncRowDelta(
      spark: SparkSession,
      corpusDir: String,
      idCol: String,
      textCol: String,
      indexDir: String,
      lastSynced: Long,
      corpusV: Long): Option[Long] = {
    val feed =
      try VersionedLake.readRowChanges(spark, corpusDir, lastSynced, corpusV)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      catch { case _: VersionedLake.CdcWindowRefusedException => return None }
    try {
      import org.apache.spark.sql.expressions.Window
      val byDoc = Window.partitionBy(col(idCol))
      val isAdd = col("_change_type").isin("insert", "update_postimage")
      val isPrior = col("_change_type").isin("update_preimage", "delete")
      val after = feed
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("_rank", row_number().over(
          byDoc.orderBy(col("_commit_version").desc, when(isAdd, 1).otherwise(0).desc)))
        .filter(col("_rank") === 1)
      val added = after.filter(isAdd)
        .drop("_rank", "_change_type", "_commit_version")
      val before = feed
        .withColumn("_rank", row_number().over(
          byDoc.orderBy(col("_commit_version").asc, when(isPrior, 0).otherwise(1).asc)))
        .filter(col("_rank") === 1)
      val priorRows = before.filter(isPrior)
        .drop("_rank", "_change_type", "_commit_version")
      val touched = feed.select(col(idCol).as("doc_id")).distinct()
      val statsDelta = statsNet(
        statsPartial(added, idCol, textCol, 1),
        statsPartial(priorRows, idCol, textCol, -1))
      // ONE keyed-CoW commit: re-supplied documents replace their
      // postings, probed-but-absent documents' postings vanish
      VersionedLake.upsert(spark, postingsDir(indexDir),
        postingsOf(added, idCol, textCol, numBuckets(spark, indexDir)),
        keys = Seq("doc_id"),
        parts = Seq("b"), txn = Some(SyncApp -> corpusV),
        probeKeys = Some(touched), sortWithin = PostSort)
      VersionedLake.appendCommitTxn(statsDelta, statsDir(indexDir),
        appId = SyncApp, batchId = corpusV)
      Some(corpusV)
    } finally feed.unpersist(blocking = false)
  }

  /** Directory-diff fallback: documents in AFFECTED directories that did
    * not survive to the new version left the corpus; everything affected
    * and still live re-indexes via the same keyed upsert. Stats net to
    * the new rows minus the old rows, so compaction-moved documents
    * cancel exactly. O(changed directories) — the bound the rewrite
    * itself paid.
    *
    * "Affected" is more than the data-directory diff: a merge-on-read
    * DELETE/UPDATE (or a rollback that only removes a delete file)
    * changes the manifest's eqdelete lines WITHOUT touching a data
    * directory, so the window also includes every directory a
    * changed delete file scopes — and both sides read LOGICAL rows
    * ([[VersionedLake.readDirsWithDeletes]] at each side's own version),
    * never raw parquet, so rows already MoR-deleted at `lastSynced`
    * (which the index therefore never counted) cannot be subtracted
    * again, and rows MoR-deleted inside the window drop exactly once.
    */
  private def syncManifestDiff(
      spark: SparkSession,
      corpusDir: String,
      idCol: String,
      textCol: String,
      indexDir: String,
      lastSynced: Long,
      corpusV: Long): Long = {
    val curDirs = VersionedLake.manifest(spark, corpusDir, corpusV)
    val priorDirs = VersionedLake.manifest(spark, corpusDir, lastSynced)
    val removed = priorDirs.filterNot(curDirs.toSet)
    val added = curDirs.filterNot(priorDirs.toSet)
    // delete files that appeared (MoR DELETE/UPDATE in the window) or
    // vanished (rollback) re-scope their directories into the diff even
    // when no data directory moved
    val priorDels = VersionedLake.dirEqDeletes(spark, corpusDir, lastSynced)
    val curDels = VersionedLake.dirEqDeletes(spark, corpusDir, corpusV)
    val priorDelIds = priorDels.map(_.dir).toSet
    val curDelIds = curDels.map(_.dir).toSet
    val delTouched = (curDels.filterNot(e => priorDelIds(e.dir)) ++
      priorDels.filterNot(e => curDelIds(e.dir))).flatMap(_.dirs).distinct
    val oldAffected = (removed ++ delTouched.filter(priorDirs.contains)).distinct
    val newAffected = (added ++ delTouched.filter(curDirs.contains)).distinct
    if (oldAffected.isEmpty && newAffected.isEmpty) {
      // metadata-only window: advance the watermarks, touch no data
      VersionedLake.commitTxnWatermark(spark, postingsDir(indexDir), SyncApp, corpusV)
      VersionedLake.commitTxnWatermark(spark, statsDir(indexDir), SyncApp, corpusV)
      return corpusV
    }
    def readLogical(dirs: Seq[String], version: Long): DataFrame =
      VersionedLake.readDirsWithDeletes(spark, corpusDir, version, dirs,
        VersionedLake.versionSchema(spark, corpusDir, version))
    val emptyDocs = {
      val schema = VersionedLake.versionSchema(spark, corpusDir, corpusV)
        .getOrElse(readLogical(curDirs, corpusV).schema)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    }
    val oldRows =
      if (oldAffected.isEmpty) emptyDocs else readLogical(oldAffected, lastSynced)
    val newRows =
      if (newAffected.isEmpty) emptyDocs else readLogical(newAffected, corpusV)
    val touched = oldRows.select(col(idCol).as("doc_id"))
      .unionByName(newRows.select(col(idCol).as("doc_id"))).distinct()
    val statsDelta = statsNet(
      statsPartial(newRows, idCol, textCol, 1),
      statsPartial(oldRows, idCol, textCol, -1))
    VersionedLake.upsert(spark, postingsDir(indexDir),
      postingsOf(newRows, idCol, textCol, numBuckets(spark, indexDir)),
      keys = Seq("doc_id"),
      parts = Seq("b"), txn = Some(SyncApp -> corpusV), probeKeys = Some(touched),
      sortWithin = PostSort)
    VersionedLake.appendCommitTxn(statsDelta, statsDir(indexDir),
      appId = SyncApp, batchId = corpusV)
    corpusV
  }

  /** BM25 over the index: partition-prune postings to the query terms'
    * buckets, score with the exact scan-path formula. `k = Some(n)`
    * returns the top n by (score desc, doc_id); None returns every
    * matching document (the verifiable full ranking).
    *
    * Read cost: ≤ |terms| postings buckets + the O(commits) stats table
    * — independent of corpus size. Document frequencies aggregate over
    * the pruned rows only (3 query terms → a 3-row broadcast frame).
    */
  def searchBm25(
      spark: SparkSession,
      indexDir: String,
      terms: Seq[String],
      k: Option[Int] = None,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "searchBm25 needs at least one term")
    val st = readMember(spark, indexDir, Stats)
      .agg(sum("n_docs").as("n"), sum("n_len_docs").as("nl"), sum("sum_len").as("sl"))
      .head()
    require(!st.isNullAt(0),
      s"$indexDir has no corpus-stats partials - build() or sync() the index first")
    val n = st.getLong(0)
    val avgl = st.getLong(2).toDouble / math.max(st.getLong(1), 1L)
    val buckets = terms.flatMap(bucketsOf(spark, indexDir, _)).distinct
    val hits = readMember(spark, indexDir, Post)
      .filter(col("b").isin(buckets: _*) && col("w").isin(terms: _*))
    val dfq = hits.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
    val scored = hits.join(broadcast(dfq), "w")
      .select(
        col("doc_id"),
        round(
          log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf") * (k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / lit(avgl))),
          9).as("contrib"))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 6).as("bm25"))
    k.fold(scored)(top =>
      scored.orderBy(col("bm25").desc, col("doc_id")).limit(top))
  }

  /** EXACT PHRASE search over the positional postings: documents where
    * `terms` occur as consecutive tokens, with the occurrence count —
    * `(doc_id, n_phrase)`, `n_phrase > 0` only. `k = Some(n)` keeps the
    * top n by (count desc, doc_id).
    *
    * The probe reads ≤ |distinct terms| postings buckets (the same
    * partition pruning as [[searchBm25]] — cost independent of corpus
    * size), inner-joins the per-term position lists on doc_id (a
    * document missing ANY phrase term cannot match, so the join chain
    * only narrows), and counts phrase occurrences with an ADJACENCY
    * CHAIN of array intersections: positions of term i, shifted by one,
    * intersected with positions of term i+1 — after the last term the
    * surviving positions ARE the phrase's end offsets. Duplicate terms
    * in the phrase reuse the same postings row ("a a" works), and the
    * per-document work is O(Σ positions of the phrase terms), never
    * O(document length).
    */
  def searchPhrase(
      spark: SparkSession,
      indexDir: String,
      terms: Seq[String],
      k: Option[Int] = None): DataFrame = {
    require(terms.size >= 2, "searchPhrase needs at least two terms; " +
      "single-term retrieval is searchBm25")
    val post = readMember(spark, indexDir, Post)
    require(post.columns.contains("pos"),
      s"$indexDir predates positional postings - rebuild (or re-sync from " +
        "scratch) to enable phrase queries")
    val buckets = terms.flatMap(bucketsOf(spark, indexDir, _)).distinct
    val hits = post
      .filter(col("b").isin(buckets: _*) && col("w").isin(terms.distinct: _*))
    val frames = terms.zipWithIndex.map { case (t, i) =>
      hits.filter(col("w") === t).select(col("doc_id"), col("pos").as(s"_p$i"))
    }
    val joined = frames.reduce(_.join(_, "doc_id"))
    val chain = (1 until terms.size).foldLeft(col("_p0")) { (acc, i) =>
      array_intersect(transform(acc, x => x + 1), col(s"_p$i"))
    }
    val scored = joined
      .select(col("doc_id"), size(chain).cast("long").as("n_phrase"))
      .filter(col("n_phrase") > 0)
    k.fold(scored)(top =>
      scored.orderBy(col("n_phrase").desc, col("doc_id")).limit(top))
  }

  /** PROXIMITY search: documents where `terms` occur IN ORDER with at
    * most `window` tokens between consecutive terms (window = 1 is
    * exact adjacency, i.e. [[searchPhrase]]), with the chain count —
    * `(doc_id, n_near)`. Same probe shape as the phrase: ≤ |distinct
    * terms| postings buckets, an inner join on doc_id, and a fold over
    * position lists — here each step keeps the NEXT term's positions
    * that land within (x, x + window] of a surviving chain end, so the
    * final list holds the chains' end offsets. Per-document work is
    * O(Σ |p_i| · |chain|), bounded by the phrase terms' postings —
    * never document length, never the corpus.
    */
  def searchNear(
      spark: SparkSession,
      indexDir: String,
      terms: Seq[String],
      window: Int,
      k: Option[Int] = None): DataFrame = {
    require(terms.size >= 2, "searchNear needs at least two terms")
    require(window >= 1, s"window must be >= 1, got $window")
    val post = readMember(spark, indexDir, Post)
    require(post.columns.contains("pos"),
      s"$indexDir predates positional postings - rebuild to enable proximity queries")
    val buckets = terms.flatMap(bucketsOf(spark, indexDir, _)).distinct
    val hits = post
      .filter(col("b").isin(buckets: _*) && col("w").isin(terms.distinct: _*))
    val frames = terms.zipWithIndex.map { case (t, i) =>
      hits.filter(col("w") === t).select(col("doc_id"), col("pos").as(s"_p$i"))
    }
    val joined = frames.reduce(_.join(_, "doc_id"))
    val chain = (1 until terms.size).foldLeft(col("_p0")) { (acc, i) =>
      filter(col(s"_p$i"), y => exists(acc, x => y > x && y <= x + window))
    }
    val scored = joined
      .select(col("doc_id"), size(chain).cast("long").as("n_near"))
      .filter(col("n_near") > 0)
    k.fold(scored)(top =>
      scored.orderBy(col("n_near").desc, col("doc_id")).limit(top))
  }
}
