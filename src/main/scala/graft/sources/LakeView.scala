package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PERSISTED incremental materialized view over a [[VersionedLake]]
  * corpus — the generalization of [[graft.operators.IvfIndex.sync]]'s
  * maintenance contract from ANN assignments to arbitrary mergeable
  * aggregations ([[graft.operators.ViewMaintenance]] owns the algebra;
  * this owns durability and exactly-once).
  *
  * The view is ONE lake table of PARTIAL-state frames: each sync
  * aggregates only the corpus directories that are new since the last
  * sync (manifest diff — the commit log IS the change feed, no
  * timestamps, no full-scan anti-join) and append-commits the delta's
  * state, O(delta) work and O(delta) new files. [[read]] merges the
  * partials. The last-reflected corpus version rides the view table's
  * own manifest as a txn watermark (`appId = "view-sync"`), so the
  * watermark moves atomically WITH the state commit: a crashed sync
  * replays idempotently, racing syncs serialize through the lake's
  * optimistic concurrency, and no multi-table coordination is needed —
  * state and progress are one commit.
  *
  * Corpus REWRITES (upsert/delete/update/compaction) fold old rows into
  * new directories, so "the delta" is no longer a directory diff. With
  * a `retractOf` (the SIGNED twin of `stateOf` — negated counts/sums
  * for linear aggregates), sync replays the corpus's row-level CDC feed
  * over the window instead: pre-images/deletes append as retraction
  * frames, post-images/inserts as ordinary state — O(changed rows), and
  * a compaction-only window costs nothing. Without `retractOf` (or when
  * the feed refuses the window — rollback, pre-artifact commits), sync
  * REBUILDS: one full recompute committed as a fresh single-frame
  * snapshot, the honest fallback for non-retractable state (min/max
  * belong in [[graft.operators.ViewMaintenance]]'s fenced top-k
  * machinery, not a signed sum). Between rewrites, maintenance stays
  * O(appended bytes) either way.
  *
  * [[compact]] bounds read-side merge fan-in: it collapses the
  * accumulated partials into one merged frame as a full-snapshot commit
  * (watermark carried), the same amortization bargain as
  * [[VersionedLake.optimize]].
  */
object LakeView {

  private val ViewApp = "view-sync"

  /** The corpus version this view state table reflects (its sync
    * watermark), or None when the table isn't a LakeView / is empty.
    * Metadata-only (memoized manifest read) — [[graft.sources.LakeMv]]
    * gates automatic query rewrite on it per plan.
    */
  def watermark(spark: SparkSession, viewDir: String): Option[Long] =
    VersionedLake.currentVersion(spark, viewDir).flatMap(v =>
      VersionedLake.txnWatermarks(spark, viewDir, v).get(ViewApp))

  /** Bring the view up to the corpus's current version. `stateOf` maps
    * any slice of corpus rows to a per-group PARTIAL state frame (its
    * output schema must be stable across calls); partials from different
    * syncs merge in [[read]]. Returns the corpus version now reflected,
    * or None when the corpus is empty.
    */
  def sync(
      spark: SparkSession,
      corpusDir: String,
      viewDir: String,
      stateOf: DataFrame => DataFrame,
      retractOf: Option[DataFrame => DataFrame] = None): Option[Long] =
    syncWith(spark, corpusDir, viewDir, (df, _) => stateOf(df), retractOf)

  /** [[sync]] whose state function also learns HOW its frame lands:
    * `mergesWithPrior = true` on the append/feed paths (the frame joins
    * state already committed for the same groups at read time) and
    * `false` on the first-sync/rebuild paths (the frame REPLACES all
    * state). A guard that must hold over the MERGED per-group state —
    * the MV distinct cap — needs the distinction: unioning the prior
    * state into a rebuild's assertion would wrongly count values the
    * rebuild just retired.
    */
  def syncWith(
      spark: SparkSession,
      corpusDir: String,
      viewDir: String,
      stateOf: (DataFrame, Boolean) => DataFrame,
      retractOf: Option[DataFrame => DataFrame] = None): Option[Long] = {
    val corpusV = VersionedLake.currentVersion(spark, corpusDir).getOrElse(return None)
    VersionedLake.currentVersion(spark, viewDir) match {
      case None =>
        // first sync: the whole snapshot is the delta
        val snapshot = VersionedLake.readVersion(spark, corpusDir, corpusV)
        VersionedLake.appendCommitTxn(stateOf(snapshot, false), viewDir,
          appId = ViewApp, batchId = corpusV)
        Some(corpusV)
      case Some(viewV) =>
        val lastSynced = VersionedLake.txnWatermarks(spark, viewDir, viewV)
          .getOrElse(ViewApp,
            throw new IllegalStateException(
              s"$viewDir is not a LakeView state table (no $ViewApp watermark)"))
        if (corpusV <= lastSynced) return Some(lastSynced)
        val curDirs = VersionedLake.manifest(spark, corpusDir, corpusV)
        val priorDirs = VersionedLake.manifest(spark, corpusDir, lastSynced)
        val removed = priorDirs.filterNot(curDirs.toSet)
        val added = curDirs.filterNot(priorDirs.toSet)
        // a MERGE-ON-READ delete changes LOGICAL rows without touching a
        // single directory — the dir diff is blind to it, so the window
        // is a rewrite whenever the pending equality-delete set moved
        val delsChanged =
          VersionedLake.dirEqDeletes(spark, corpusDir, lastSynced) !=
            VersionedLake.dirEqDeletes(spark, corpusDir, corpusV)
        if (removed.isEmpty && added.isEmpty && !delsChanged) {
          // NET-ZERO window (e.g. an append whose rows a later delete in
          // the same window removed again): identical dirs + identical
          // delete debt = identical logical rows, so the state is
          // already exact — advance the watermark METADATA-ONLY. Without
          // this the watermark wedges behind corpusV forever (every
          // freshness check fails) while each sync happily returns.
          VersionedLake.commitTxnWatermark(spark, viewDir, ViewApp, corpusV): Unit
        } else if (removed.nonEmpty || delsChanged) {
          // rewrite in the window: with a signed retraction function,
          // the row-level CDC feed IS the delta — pre-images retract,
          // post-images add, one O(changed rows) append commit. Falls
          // back to the full rebuild when no retractOf was given or the
          // feed refuses the window.
          val viaFeed = retractOf.flatMap { neg =>
            // ONLY the feed read downgrades to a rebuild (a rollback or
            // pre-artifact window); a failure in the caller's stateOf or
            // the commit itself must surface, not silently degrade
            val feedOpt =
              try Some(VersionedLake.readRowChanges(spark, corpusDir, lastSynced, corpusV))
              catch { case _: VersionedLake.CdcWindowRefusedException => None }
            feedOpt.map { feed0 =>
              import org.apache.spark.sql.functions.col
              // the feed plan embeds per-version MoR pre-image joins —
              // persist so the adds and rems branches read it once
              val feed = feed0.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
              try {
                val isAdd = col("_change_type").isin("insert", "update_postimage")
                val adds = feed.filter(isAdd).drop("_change_type", "_commit_version")
                val rems = feed.filter(!isAdd).drop("_change_type", "_commit_version")
                VersionedLake.appendCommitTxn(
                  stateOf(adds, true).unionByName(neg(rems)), viewDir,
                  appId = ViewApp, batchId = corpusV)
              } finally feed.unpersist(blocking = false): Unit
            }
          }
          if (viaFeed.isEmpty) {
            // partial states cannot retract rows they already folded in —
            // rebuild from the snapshot, as ONE exactly-once-gated
            // full-snapshot commit
            val snapshot = VersionedLake.readVersion(spark, corpusDir, corpusV)
            VersionedLake.commit(stateOf(snapshot, false), viewDir,
              txn = Some(ViewApp -> corpusV)): Unit
          }
        } else if (added.nonEmpty) {
          val schema = VersionedLake.versionSchema(spark, corpusDir, corpusV)
          val reader = spark.read.option("basePath", s"$corpusDir/data")
          val paths = added.map(d => s"$corpusDir/data/$d")
          val delta =
            schema.fold(reader.parquet(paths: _*))(s => reader.schema(s).parquet(paths: _*))
          VersionedLake.appendCommitTxn(stateOf(delta, true), viewDir,
            appId = ViewApp, batchId = corpusV)
        }
        Some(corpusV)
    }
  }

  /** The view's merged answer: fold the accumulated partial-state frames
    * with [[graft.operators.ViewMaintenance.merge]]'s algebra. `state`
    * maps each state column to its merge op (sum/min/max/...).
    */
  /** `liveness`: name of a sum-merged row-count state column. With the
    * signed-retraction sync, a group whose corpus rows all vanish leaves
    * a fully-cancelled (count 0) state row behind; naming the counter
    * drops those groups so the view equals a recompute exactly — the
    * retraction twin of the recompute/rebuild contract. Omit for views
    * maintained without `retractOf` (counts can never reach zero there).
    */
  def read(
      spark: SparkSession,
      viewDir: String,
      keys: Seq[String],
      state: Seq[(String, String)],
      liveness: Option[String] = None): DataFrame = {
    val merged = graft.operators.ViewMaintenance.merge(
      Seq(VersionedLake.read(spark, viewDir)), keys, state)
    liveness.fold(merged)(c =>
      merged.filter(org.apache.spark.sql.functions.col(c) > 0))
  }

  /** Collapse the accumulated partials into one merged frame (a full
    * snapshot commit; the sync watermark carries, so replays still
    * no-op). Run on the same cadence as lake compaction — read cost is
    * O(partial frames) between compactions. Read-modify-write: the
    * publish is gated on the version the merge read, so a sync landing
    * mid-compact conflicts and the compact re-bases instead of silently
    * dropping the sync's partials.
    */
  def compact(
      spark: SparkSession,
      viewDir: String,
      keys: Seq[String],
      state: Seq[(String, String)]): Long =
    VersionedLake.retryOnConflict(maxAttempts = 4) {
      val base = VersionedLake.currentVersion(spark, viewDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $viewDir"))
      val merged = graft.operators.ViewMaintenance.merge(
        Seq(VersionedLake.readVersion(spark, viewDir, base)), keys, state)
      VersionedLake.commitReplacing(merged, viewDir, base)
    }
}
