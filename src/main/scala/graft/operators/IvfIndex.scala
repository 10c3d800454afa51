package graft.operators

import graft.sources.{LakeTxn, VersionedLake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT, incrementally-maintained IVF index — the vector-side
  * analogue of [[MinHash.incrementalLshPairs]]'s delta-vs-index contract.
  *
  * The per-query IVF path ([[Similarity.trainIvfDistributed]] +
  * [[Similarity.ivfAssign]]) re-trains the coarse quantizer and re-assigns
  * the whole corpus on every invocation — fine for one-off analysis,
  * wrong at 100 TB where the embedding corpus takes append commits all
  * day: training is a multi-pass k-means over the corpus sample and
  * assignment is a full scan. This index trains ONCE at build time and
  * persists every half as a [[VersionedLake]] table:
  *
  *   - `indexDir/centroids` — one commit: (cell, centroid) rows. Never
  *     rewritten by appends; re-train is an explicit [[build]] (codebook
  *     drift is a deliberate, operator-driven event, as in FAISS/Milvus).
  *   - `indexDir/pqbooks` — (j, c, w) PQ codebook rows when the index is
  *     built through [[buildPq]]: the memory-shaped variant persists m
  *     small int codes per vector next to it and probes by asymmetric
  *     distance over the CODES, reading vectors only for the re-rank
  *     candidates.
  *   - `indexDir/assignments` — (id, cell, v, norm[, code0..]) rows,
  *     PARTITIONED BY cell, so a probe reads nProbe cell directories,
  *     not the corpus. [[append]] assigns ONLY the delta against the
  *     persisted centroids and `appendCommit`s it: O(delta) work,
  *     O(delta) new files, atomic + conflict-checked like any lake
  *     commit.
  *
  * The members publish together through a [[LakeTxn]] record — the
  * multi-table atomic commit: a crash between the centroids commit and
  * the assignments commit (or anywhere before the record) leaves readers
  * on the previous record's consistent pair; the new index state appears
  * all-or-nothing. Legacy indexes without a txn log fall back to
  * per-table latest.
  *
  * Query ([[topK]] / [[topKPq]]) reads the pinned assignment snapshot:
  * partition pruning on `cell` + exact cosine re-rank inside the probed
  * cells.
  */
object IvfIndex {

  def centroidsDir(indexDir: String): String = s"$indexDir/centroids"
  def assignmentsDir(indexDir: String): String = s"$indexDir/assignments"
  def pqBooksDir(indexDir: String): String = s"$indexDir/pqbooks"

  private val Cent = "centroids"

  /** Bloom config every assignments commit declares on `id`: cell
    * partitioning serves the probe, but index MAINTENANCE (sync's keyed
    * upsert / deleteKeys after a corpus rewrite) probes by id — exactly
    * the high-cardinality interleaved-key case where manifest stats
    * never prune and the keyed-CoW bloom layer is the only thing
    * standing between a maintenance batch and a full index scan.
    */
  private val AsgBloom =
    Some(VersionedLake.BloomConfig(Seq("id"), bits = 1 << 18))
  private val Asg = "assignments"
  private val Books = "pqbooks"

  // ------------------------------------------------------------------
  // Txn-resolved reads: the LakeTxn record pins the member versions
  // that belong together; without one (legacy index) read per-table
  // latest.
  // ------------------------------------------------------------------

  private def pinned(spark: SparkSession, indexDir: String, member: String): Option[Long] =
    LakeTxn.current(spark, indexDir).flatMap(_.get(member))

  private def readMember(spark: SparkSession, indexDir: String, member: String): DataFrame = {
    val dir = member match {
      case Cent  => centroidsDir(indexDir)
      case Asg   => assignmentsDir(indexDir)
      case Books => pqBooksDir(indexDir)
    }
    pinned(spark, indexDir, member) match {
      case Some(v) => VersionedLake.readVersion(spark, dir, v)
      case None    => VersionedLake.read(spark, dir)
    }
  }

  /** The persisted codebook, cell-ordered. One tiny-table read. */
  def centroids(spark: SparkSession, indexDir: String): Seq[Seq[Double]] =
    readMember(spark, indexDir, Cent)
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toSeq)
      .toSeq

  /** The persisted PQ codebooks ([[buildPq]] indexes only). Bounded read:
    * m × ksub rows.
    */
  def pqBooks(spark: SparkSession, indexDir: String): Pq.Books = {
    val rows = readMember(spark, indexDir, Books)
      .orderBy("j", "c")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    require(rows.nonEmpty, s"$indexDir has no persisted PQ codebooks (built without buildPq?)")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val books = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    Pq.Books(m, books.head.head.length, ksub, books)
  }

  /** After any maintenance commit: publish (or repair, after a crashed
    * publish) the txn record pinning the CURRENT consistent member set —
    * centroids/pqbooks stay at their previously-pinned versions (drift
    * requires an explicit build), assignments move to `asgV`. Idempotent:
    * an unchanged set publishes nothing.
    */
  private def publishMaintenance(spark: SparkSession, indexDir: String, asgV: Long): Unit = {
    val prev = LakeTxn.current(spark, indexDir)
    val cV = prev.flatMap(_.get(Cent))
      .orElse(VersionedLake.currentVersion(spark, centroidsDir(indexDir)))
    val bV = prev.flatMap(_.get(Books))
      .orElse(VersionedLake.currentVersion(spark, pqBooksDir(indexDir)))
    val tables = Map(Asg -> asgV) ++ cV.map(Cent -> _) ++ bV.map(Books -> _)
    LakeTxn.publishIfChanged(spark, indexDir, tables): Unit
  }

  /** Train the coarse quantizer on `df` (bounded-sample distributed
    * k-means) and commit centroids + the full initial assignment, pinned
    * together by one txn record. The one corpus-scan event in the index
    * lifecycle.
    */
  def build(
      df: DataFrame,
      idCol: String,
      indexDir: String,
      k: Int = 16,
      iters: Int = 4): Seq[Seq[Double]] = {
    val spark = df.sparkSession
    val cents = Similarity.trainIvfDistributed(df, idCol, k, iters)
    import spark.implicits._
    val vC = VersionedLake.commit(
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid"),
      centroidsDir(indexDir))
    val vA = VersionedLake.commit(assignRows(df, idCol, cents), assignmentsDir(indexDir),
      parts = Seq("cell"), bloom = AsgBloom)
    LakeTxn.publish(spark, indexDir, Map(Cent -> vC, Asg -> vA))
    cents
  }

  /** [[build]] with PRODUCT-QUANTIZED assignments: the PQ codebooks `b`
    * (trained or seeded by the caller) persist as a third member table
    * and every assignment row carries its m int codes next to the
    * vector. [[topKPq]] then scores candidates from the CODES alone —
    * the probe's scan is memory-shaped (m ints per row, not dim
    * doubles) — and reads vectors only for the top k×refine re-rank
    * rows. All three members publish under one txn record.
    */
  def buildPq(
      df: DataFrame,
      idCol: String,
      indexDir: String,
      b: Pq.Books,
      k: Int = 16,
      iters: Int = 4): Seq[Seq[Double]] = {
    val spark = df.sparkSession
    val cents = Similarity.trainIvfDistributed(df, idCol, k, iters)
    import spark.implicits._
    val vC = VersionedLake.commit(
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid"),
      centroidsDir(indexDir))
    val bookRows = for {
      (book, j) <- b.books.zipWithIndex
      (w, c) <- book.zipWithIndex
    } yield (j, c, w)
    val vB = VersionedLake.commit(bookRows.toDF("j", "c", "w"), pqBooksDir(indexDir))
    val vA = VersionedLake.commit(assignRowsPq(df, idCol, cents, b),
      assignmentsDir(indexDir), parts = Seq("cell"), bloom = AsgBloom)
    LakeTxn.publish(spark, indexDir, Map(Cent -> vC, Books -> vB, Asg -> vA))
    cents
  }

  private def assignRows(df: DataFrame, idCol: String, cents: Seq[Seq[Double]]): DataFrame =
    Similarity.ivfAssign(df, cents)
      .select(col(idCol).as("id"), col("cell"), col("v"), col("norm"))

  private def assignRowsPq(
      df: DataFrame,
      idCol: String,
      cents: Seq[Seq[Double]],
      b: Pq.Books): DataFrame =
    Pq.encode(Similarity.ivfAssign(df, cents), b)
      .select((col(idCol).as("id") +: col("cell") +: col("v") +: col("norm") +:
        (0 until b.m).map(j => col(s"code$j"))): _*)

  /** Maintain the index for an embedding-corpus append commit: assign
    * ONLY `delta` using the PERSISTED centroids (no re-train, no corpus
    * rescan), PQ-encode when the index persists codebooks, and
    * append-commit the new assignments. Returns the new assignment-table
    * version (pinned by a fresh txn record).
    */
  def append(delta: DataFrame, idCol: String, indexDir: String): Long = {
    val spark = delta.sparkSession
    val cents = centroids(spark, indexDir)
    val rows = pinned(spark, indexDir, Books)
      .orElse(VersionedLake.currentVersion(spark, pqBooksDir(indexDir))) match {
      case Some(_) => assignRowsPq(delta, idCol, cents, pqBooks(spark, indexDir))
      case None    => assignRows(delta, idCol, cents)
    }
    val vA = VersionedLake.appendCommit(rows, assignmentsDir(indexDir),
      parts = Seq("cell"), bloom = AsgBloom)
    publishMaintenance(spark, indexDir, vA)
    vA
  }

  /** Maintain the index from a VersionedLake-committed embedding corpus
    * by MANIFEST DIFF: the corpus's commit log says exactly which data
    * directories changed since the last sync, so the delta is read
    * dir-exactly (no timestamps, no full-scan anti-join — the log IS the
    * change feed). The last-synced corpus version rides the assignment
    * table's own manifest as a txn watermark (`appId = "corpus-sync"`,
    * `batchId = corpus version`), which buys exactly-once for free: the
    * watermark moves atomically WITH the assignment commit, a crashed
    * sync replays idempotently, and two racing syncs serialize through
    * the lake's optimistic concurrency.
    *
    * Corpus REWRITES (upsert / deleteWhere / updateWhere) are handled by
    * the same diff: a directory the old manifest had and the new one
    * lacks was rewritten or emptied — its rows either moved into an
    * ADDED directory (rewrite survivors, re-assigned by the upsert
    * below) or left the corpus (their ids anti-joined out of the old
    * dirs' id set, then [[VersionedLake.deleteKeys]]-ed from the
    * assignments). Maintenance cost is O(changed directories), the same
    * bound the rewrite itself paid; a compaction that rewrites every
    * directory degrades to a full re-assign (no re-train) — schedule
    * syncs before OPTIMIZE cadences, not after. Returns the corpus
    * version now reflected, or None when the corpus is empty.
    */
  def sync(
      spark: SparkSession,
      corpusDir: String,
      idCol: String,
      indexDir: String,
      k: Int = 16,
      iters: Int = 4): Option[Long] = {
    val corpusV = VersionedLake.currentVersion(spark, corpusDir).getOrElse(return None)
    val asgDir = assignmentsDir(indexDir)
    VersionedLake.currentVersion(spark, asgDir) match {
      case None =>
        // first sync IS the build: train + assign the snapshot, with the
        // corpus watermark riding the same commit (crash-replay safe)
        val snapshot = VersionedLake.readVersion(spark, corpusDir, corpusV)
        val cents = Similarity.trainIvfDistributed(snapshot, idCol, k, iters)
        import spark.implicits._
        val vC = VersionedLake.commit(
          cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid"),
          centroidsDir(indexDir))
        val vA = VersionedLake.appendCommitTxn(assignRows(snapshot, idCol, cents), asgDir,
          appId = SyncApp, batchId = corpusV, parts = Seq("cell"), bloom = AsgBloom)
        LakeTxn.publish(spark, indexDir, Map(Cent -> vC, Asg -> vA))
        Some(corpusV)
      case Some(asgV) =>
        val lastSynced = VersionedLake.txnWatermarks(spark, asgDir, asgV)
          .getOrElse(SyncApp,
            throw new IllegalStateException(
              s"$indexDir was built from a DataFrame, not synced from a lake " +
                "corpus - keep maintaining it through append()"))
        if (corpusV <= lastSynced) {
          // repair a crashed txn publish: the commit (and watermark) landed
          publishMaintenance(spark, indexDir, asgV)
          return Some(lastSynced)
        }
        val curDirs = VersionedLake.manifest(spark, corpusDir, corpusV)
        val priorDirs = VersionedLake.manifest(spark, corpusDir, lastSynced)
        val removed = priorDirs.filterNot(curDirs.toSet)
        val added = curDirs.filterNot(priorDirs.toSet)
        // a merge-on-read DELETE/UPDATE (or a rollback removing a delete
        // file) changes eqdelete manifest lines WITHOUT moving a data
        // directory — the window is not metadata-only, and every
        // directory a changed delete file scopes joins the diff
        val priorDels = VersionedLake.dirEqDeletes(spark, corpusDir, lastSynced)
        val curDels = VersionedLake.dirEqDeletes(spark, corpusDir, corpusV)
        val priorDelIds = priorDels.map(_.dir).toSet
        val curDelIds = curDels.map(_.dir).toSet
        val delTouched = (curDels.filterNot(e => priorDelIds(e.dir)) ++
          priorDels.filterNot(e => curDelIds(e.dir))).flatMap(_.dirs).distinct
        val oldAffected = (removed ++ delTouched.filter(priorDirs.contains)).distinct
        val newAffected = (added ++ delTouched.filter(curDirs.contains)).distinct
        if (oldAffected.isEmpty && newAffected.isEmpty) {
          publishMaintenance(spark, indexDir, asgV)
          return Some(corpusV)
        }
        val cents = centroids(spark, indexDir)
        // LOGICAL rows at each side's own version (pending delete files
        // applied): raw parquet would resurrect rows already MoR-deleted
        // at lastSynced and keep rows MoR-deleted inside the window
        def readCorpusDirs(dirs: Seq[String], version: Long): DataFrame =
          VersionedLake.readDirsWithDeletes(spark, corpusDir, version, dirs,
            VersionedLake.versionSchema(spark, corpusDir, version))
        val vA =
          if (oldAffected.isEmpty) {
            // pure appends: assign the new directories, O(delta)
            VersionedLake.appendCommitTxn(
              assignRows(readCorpusDirs(newAffected, corpusV), idCol, cents), asgDir,
              appId = SyncApp, batchId = corpusV, parts = Seq("cell"), bloom = AsgBloom)
          } else {
            // rewrites in the window — prefer the ROW-LEVEL delta: the
            // corpus's CDC feed replays exactly which rows changed, so a
            // one-row SQL UPDATE costs one re-assignment (the manifest
            // diff would re-assign every row of the rewritten directory)
            // and a pure compaction costs NOTHING (it emits no events,
            // where the directory diff looks like a full rewrite). Falls
            // back to the manifest diff when any window commit has no
            // row-level replay (rollback, pre-artifact legacy commits).
            syncRowDelta(spark, corpusDir, idCol, asgDir, indexDir, cents,
              lastSynced, corpusV).getOrElse {
              // manifest-diff fallback: old rows live on disk until
              // vacuum (the old manifest still references them), so the
              // diff is exact: ids in removed dirs that did NOT resurface
              // in added dirs left the corpus — delete their assignments
              // (idempotent on replay). Everything in the added dirs
              // re-assigns via keyed upsert.
              val oldIds = readCorpusDirs(oldAffected, lastSynced)
                .select(col(idCol).as("id")).distinct()
              val newRows =
                if (newAffected.isEmpty)
                  readCorpusDirs(oldAffected, lastSynced).limit(0)
                else readCorpusDirs(newAffected, corpusV)
              val vanished = oldIds.join(
                newRows.select(col(idCol).as("id")).distinct(), Seq("id"), "left_anti")
              VersionedLake.deleteKeys(spark, asgDir, vanished, Seq("id"))
              assignAndUpsert(spark, indexDir, asgDir, newRows, idCol, cents,
                txn = Some(SyncApp -> corpusV))
            }
          }
        publishMaintenance(spark, indexDir, vA)
        Some(corpusV)
    }
  }

  private val SyncApp = "corpus-sync"

  /** O(changed rows) maintenance from the corpus's row-level CDC feed
    * over `(lastSynced, corpusV]`. Per id, the LATEST event decides —
    * ordered by (version, add-beats-remove within a version, since an
    * update is remove+add): an add-type final event re-assigns that
    * row's latest vector; a remove-type final event deletes the
    * assignment. Returns None when the feed refuses the window (a
    * rollback or pre-artifact rewrite) — the caller falls back to the
    * manifest diff. The txn watermark rides whichever commit runs last,
    * so replays stay exactly-once either way.
    */
  private def syncRowDelta(
      spark: SparkSession,
      corpusDir: String,
      idCol: String,
      asgDir: String,
      indexDir: String,
      cents: Seq[Seq[Double]],
      lastSynced: Long,
      corpusV: Long): Option[Long] = {
    val feed =
      try VersionedLake.readRowChanges(spark, corpusDir, lastSynced, corpusV)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      catch { case _: VersionedLake.CdcWindowRefusedException => return None }
    try {
      import org.apache.spark.sql.expressions.Window
      val isAdd = col("_change_type").isin("insert", "update_postimage")
      val latest = feed
        .withColumn("_rank", row_number().over(
          Window.partitionBy(col(idCol))
            .orderBy(col("_commit_version").desc,
              when(isAdd, 1).otherwise(0).desc)))
        .filter(col("_rank") === 1)
      val upRows = latest.filter(isAdd)
        .drop("_rank", "_change_type", "_commit_version")
      val vanished = latest.filter(!isAdd)
        .select(col(idCol).as("id")).distinct()
      val hasUpserts = !upRows.isEmpty
      if (hasUpserts) {
        // update-only windows (the common SQL-UPDATE case) have nothing
        // vanished — skip the probe AND the extra no-op version+artifact
        // a keyed delete of zero keys would still publish
        if (!vanished.isEmpty)
          VersionedLake.deleteKeys(spark, asgDir, vanished, Seq("id")): Unit
        Some(assignAndUpsert(spark, indexDir, asgDir, upRows, idCol, cents,
          txn = Some(SyncApp -> corpusV)))
      } else
        // no adds in the window (pure deletes, or a compaction-only
        // window with zero events): the delete commit carries the
        // watermark so the sync still advances exactly-once
        Some(VersionedLake.deleteKeys(spark, asgDir, vanished, Seq("id"),
          txn = Some(SyncApp -> corpusV)))
    } finally feed.unpersist(blocking = false)
  }

  /** PQ-aware assign + keyed upsert — the one code path both the CDC and
    * manifest-diff sync branches take, so the pinning rule and upsert
    * options can never drift between them.
    */
  private def assignAndUpsert(
      spark: SparkSession,
      indexDir: String,
      asgDir: String,
      rows: DataFrame,
      idCol: String,
      cents: Seq[Seq[Double]],
      txn: Option[(String, Long)]): Long = {
    val asgNew = pinned(spark, indexDir, Books)
      .orElse(VersionedLake.currentVersion(spark, pqBooksDir(indexDir))) match {
      case Some(_) => assignRowsPq(rows, idCol, cents, pqBooks(spark, indexDir))
      case None    => assignRows(rows, idCol, cents)
    }
    VersionedLake.upsert(spark, asgDir, asgNew, keys = Seq("id"),
      parts = Seq("cell"), txn = txn)
  }

  /** ANN top-k against the index's pinned snapshot: probe the nProbe
    * best cells (partition-pruned read), exact cosine re-rank inside.
    */
  def topK(
      spark: SparkSession,
      indexDir: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4): DataFrame =
    rank(readMember(spark, indexDir, Asg), spark, indexDir, query, k, nProbe)

  private def rank(
      assigned: DataFrame,
      spark: SparkSession,
      indexDir: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int): DataFrame = {
    val cents = centroids(spark, indexDir)
    val probe = Similarity.probeCells(query, cents, nProbe)
    val qn = math.sqrt(query.map(x => x * x).sum)
    val qCol = typedLit(query)
    assigned
      .filter(col("cell").isin(probe.map(_.asInstanceOf[Any]): _*))
      .select(
        col("id"),
        (Similarity.dot(col("v"), qCol) / (col("norm") * lit(qn))).as("cos"))
      .orderBy(round(col("cos"), 6).desc, col("id"))
      .limit(k)
  }

  /** Phase 1 of the PQ probe, exposed for the plan pin: the ADC
    * candidate frame over the probed cells, whose scan reads id + the m
    * int codes — column pruning drops `v`/`norm`, so the candidate scan
    * is memory-shaped even when every assignment row carries its vector.
    */
  private[graft] def pqCandidates(
      spark: SparkSession,
      indexDir: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int,
      refine: Int): DataFrame = {
    val cents = centroids(spark, indexDir)
    val b = pqBooks(spark, indexDir)
    val probe = Similarity.probeCells(query, cents, nProbe)
    val lut = Pq.adcLut(query, b)
    val score = (0 until b.m)
      .map(j => element_at(typedLit(lut(j)), col(s"code$j") + 1))
      .reduce(_ + _)
    readMember(spark, indexDir, Asg)
      .filter(col("cell").isin(probe.map(_.asInstanceOf[Any]): _*))
      .select((col("id") +: (0 until b.m).map(j => col(s"code$j"))): _*)
      .withColumn("adc", round(score, 6))
      .orderBy(col("adc").asc, col("id"))
      .limit(k * refine)
      .select("id")
  }

  /** ANN top-k by ASYMMETRIC DISTANCE over the persisted codes: phase 1
    * scans (id, code0..m-1) of the probed cells — never the vectors —
    * and keeps the k×refine best ADC candidates; phase 2 re-reads ONLY
    * those rows' vectors (cell partition pruning + id pushdown, a
    * bounded k×refine id list) for the exact cosine re-rank. At 100 TB
    * the probe's IO is m ints per candidate row instead of dim doubles —
    * the IVF-PQ memory shape, persisted.
    */
  def topKPq(
      spark: SparkSession,
      indexDir: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4,
      refine: Int = 4): DataFrame = {
    val cents = centroids(spark, indexDir)
    val probe = Similarity.probeCells(query, cents, nProbe)
    val qn = math.sqrt(query.map(x => x * x).sum)
    val qCol = typedLit(query)
    // bounded collect: k×refine candidate ids (an ANN answer's size, not
    // the data's) — buys parquet id pushdown for the vector fetch
    val candIds = pqCandidates(spark, indexDir, query, k, nProbe, refine)
      .collect().map(_.get(0))
    readMember(spark, indexDir, Asg)
      .filter(col("cell").isin(probe.map(_.asInstanceOf[Any]): _*) &&
        col("id").isin(candIds: _*))
      .select(
        col("id"),
        (Similarity.dot(col("v"), qCol) / (col("norm") * lit(qn))).as("cos"))
      .orderBy(round(col("cos"), 6).desc, col("id"))
      .limit(k)
  }
}
