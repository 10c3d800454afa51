package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mirror-table replication off the row-level CDC feed: `sync` brings a
  * destination lake table up to the source's current version by reading
  * the commit log's row delta ONCE and applying it as ONE exactly-once
  * keyed minimal-CoW commit — the lakehouse "APPLY CHANGES" shape
  * (reference behavior: the pipeline republishes whole extracts into the
  * warehouse per run, `/root/reference/xml_to_rdb.py:39-56` — at
  * 100 TB a mirror must pay the row delta, not the table).
  *
  * Cost model, which is the point: a sync window spanning V commits with
  * D changed rows costs O(D) feed read (artifact-backed CoW versions are
  * ONE multi-path scan, [[VersionedLake.readRowChanges]]), one O(D)
  * latest-per-key window shuffle, and a keyed-CoW upsert that rewrites
  * only directories holding touched keys. The mirror's own history is a
  * clean per-sync commit log — itself CDC-consumable, so mirrors chain.
  *
  * Exactly-once: the applied SOURCE version rides the destination
  * manifest as a txn watermark (`appId` defaults to a digest of the
  * source path; pass one explicitly when two distinct sources share a
  * physical path lineage, e.g. a path re-mounted under another root). A
  * replayed or raced sync whose window already landed is a no-op AT THE
  * COMMIT — the lake is the system of record for what applied.
  *
  * Per-key REPLAY, not latest-commit-wins: `update_postimage` replaces
  * a key's rows and `delete` empties it, but `insert` (an append) ADDS
  * to whatever the key holds — so a key's post-window rows are its last
  * replacing event's rows plus every insert at-or-after it (same-version
  * inserts ride replace_where's delete+insert pairs), and a key the
  * window only appended to keeps its pre-window mirror rows (appended,
  * never probed). Windows that net to no mirror change still advance
  * the watermark via a metadata-only commit
  * ([[VersionedLake.commitTxnWatermark]]) — otherwise the next sync
  * would re-read an unboundedly growing window and wedge once retention
  * reclaimed it.
  *
  * The window must be row-level replayable: sources with CDC artifacts
  * opted out (`cdc.artifacts=false`) refuse loudly in the feed read —
  * route replicated tables through artifact-carrying mutations.
  */
object LakeReplicate {

  /** Stable watermark identity for a source path (mirrors the streaming
    * sink's checkpoint-digest convention).
    */
  def defaultAppId(srcDir: String): String =
    "graft-replicate-" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(srcDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Sync `dstDir` to `srcDir`'s current version. Returns the
    * destination version holding the sync (the current one when the
    * window was empty or already applied).
    *
    * First call bootstraps: the source snapshot lands as one append
    * commit carrying the same watermark discipline, so an interrupted
    * bootstrap retries idempotently. Later calls read only
    * `(applied, current]`.
    */
  def sync(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      keys: Seq[String],
      appId: Option[String] = None): Long = {
    require(keys.nonEmpty, "replication needs the source's key columns")
    val app = appId.getOrElse(defaultAppId(srcDir))
    val srcV = VersionedLake.currentVersion(spark, srcDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $srcDir"))
    VersionedLake.currentVersion(spark, dstDir) match {
      case None =>
        // bootstrap: snapshot at srcV, watermarked so a crash between
        // commit and caller-visible return replays as a no-op. The
        // source's CHECK declarations carry FIRST (row-local, cannot
        // refuse a faithful mirror — see LakeConstraints.copyChecksTo
        // for why UNIQUE/FK deliberately stay source-side), so the
        // mirror promises readers the same row invariants from birth.
        LakeConstraints.copyChecksTo(spark, srcDir, dstDir)
        VersionedLake.appendCommitTxn(
          VersionedLake.readVersion(spark, srcDir, srcV), dstDir,
          appId = app, batchId = srcV, statsCols = keys)
      case Some(dstV) =>
        val applied = VersionedLake.txnWatermarks(spark, dstDir, dstV)
          .getOrElse(app, throw new IllegalStateException(
            s"$dstDir exists but carries no '$app' watermark - it was not " +
              "bootstrapped by this replication (syncing into an unrelated " +
              "table would silently merge two histories; start from an " +
              "empty destination)"))
        if (applied >= srcV) return dstV // nothing new - no commit, no probe
        // inside a syncAll transaction the alignment already ran
        // pre-txn (it is per-table metadata-only, possibly SEVERAL
        // commits — a staged context admits exactly one commit per
        // table, and that one must be the row delta). A source schema
        // change racing the pre-align window surfaces as the upsert's
        // loud type-mismatch, not a silent half-align; rerun syncAll.
        if (LakeAtomicTxn.staging.get() == null)
          alignSchema(spark, srcDir, dstDir, atVersion = Some(srcV))
        applyDelta(spark,
          VersionedLake.readRowChanges(spark, srcDir, applied, srcV),
          dstDir, keys, app, batchId = srcV)
    }
  }

  /** [[sync]] several source→mirror pairs as ONE atomic transaction
    * ([[LakeAtomicTxn]]): an FK-consistent star (orders + lineitems) is never
    * observable with one mirror advanced and the other behind — the
    * reference's own constraint-ordered load discipline
    * (`/root/reference/parser/xml.py:596-604`), made crash-safe. Schema
    * alignment runs per-pair BEFORE the transaction (each alignment is
    * its own metadata-only commit and is idempotent; atomicity matters
    * for the row deltas, which land all-or-nothing). Cost: the same
    * O(changed rows) per pair as N separate syncs, plus one
    * decision-file create.
    */
  def syncAll(
      spark: SparkSession,
      pairs: Seq[(String, String, Seq[String])],
      txnDir: String): Seq[Long] = {
    require(pairs.nonEmpty, "syncAll needs at least one (src, dst, keys) pair")
    require(pairs.map(_._2).distinct.size == pairs.size,
      "syncAll mirrors must be distinct destinations")
    pairs.foreach { case (src, dst, _) =>
      if (VersionedLake.currentVersion(spark, dst).isDefined)
        VersionedLake.currentVersion(spark, src).foreach(v =>
          alignSchema(spark, src, dst, atVersion = Some(v)))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    LakeAtomicTxn.commitAll(spark, txnDir) {
      out.clear()
      pairs.foreach { case (src, dst, keys) =>
        out += sync(spark, src, dst, keys)
      }
    }
    out.toSeq
  }

  /** Mirror the source's METADATA-ONLY schema changes onto the
    * destination before applying a row delta — without this a source
    * rename SPLITS the mirror (old rows keep the old column, new batches
    * add the new one; both metadata-only at the source, so the feed
    * carries no row to say so). Renames are recovered from the former
    * names the source schema itself records ([[VersionedLake.akaNames]]),
    * drops from its tombstones, widens from the supported promotion
    * chains — each applied to the destination as the same metadata-only
    * commit the source paid. Plain ADD COLUMN needs no action here:
    * the feed normalizes every frame to the window-end schema, so the
    * first data batch union-by-name-evolves the mirror (a data-less add
    * window leaves the mirror one column behind until data arrives).
    * `sync` calls this automatically; a `foreachBatch` continuous
    * pipeline should call it when the source evolves.
    */
  def alignSchema(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      atVersion: Option[Long] = None): Unit = {
    import org.apache.spark.sql.types._
    val srcV = atVersion.orElse(VersionedLake.currentVersion(spark, srcDir))
      .getOrElse(return)
    val srcFull = VersionedLake.versionSchema(spark, srcDir, srcV).getOrElse(return)
    // ONE destination schema read for the whole pass (the common
    // no-schema-change sync touches it S times otherwise); re-read only
    // after a change actually commits
    var dst: Option[StructType] = None
    def refresh(): Unit =
      dst = VersionedLake.currentVersion(spark, dstDir)
        .flatMap(v => VersionedLake.versionSchema(spark, dstDir, v))
    refresh()
    def dstVisible: Seq[String] =
      dst.map(s => VersionedLake.visibleSchema(s).fieldNames.toSeq).getOrElse(Nil)
    def dstField(n: String): Option[StructField] =
      dst.flatMap(_.fields.find(f =>
        f.name.equalsIgnoreCase(n) && !VersionedLake.isDropped(f)))
    val widenRank = Map[DataType, Int](
      ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    srcFull.fields.foreach { f =>
      // every name the field ever carried, newest first — a source
      // rename-then-drop in ONE window must still find the mirror's
      // pre-rename column (matching only the current name would leave a
      // live orphan column, the exact split this method exists to stop)
      val allNames = f.name +: VersionedLake.akaNames(f)
      if (VersionedLake.isDropped(f)) {
        allNames.find(n => dstVisible.exists(_.equalsIgnoreCase(n))).foreach { n =>
          VersionedLake.dropColumn(spark, dstDir, n): Unit
          refresh()
        }
      } else {
        if (!dstVisible.exists(_.equalsIgnoreCase(f.name)))
          VersionedLake.akaNames(f)
            .find(a => dstVisible.exists(_.equalsIgnoreCase(a)))
            .foreach { old =>
              VersionedLake.renameColumn(spark, dstDir, old, f.name): Unit
              refresh()
            }
        dstField(f.name).foreach { d =>
          val widens = (d.dataType, f.dataType) match {
            case (FloatType, DoubleType) => true
            case (a, b) => (widenRank.get(a), widenRank.get(b)) match {
              case (Some(x), Some(y)) => x < y
              case _                  => false
            }
          }
          if (widens) {
            VersionedLake.widenColumn(spark, dstDir, f.name, f.dataType): Unit
            refresh()
          }
        }
      }
    }
    // partition-spec declarations are metadata-only at the source, so the
    // feed carries no row to say so (the same reason renames are mirrored
    // here): re-declare on the mirror when the source's declaration
    // differs, so both lakes lay NEW directories out the same way. Runs
    // AFTER the rename pass so a renamed spec column resolves. The
    // mirror's EXISTING directories keep their own chains — evolution
    // semantics, zero data movement on either side.
    VersionedLake.declaredSpec(spark, srcDir, srcV).foreach { cols =>
      val dstV = VersionedLake.currentVersion(spark, dstDir)
      val dstDecl = dstV.flatMap(v => VersionedLake.declaredSpec(spark, dstDir, v))
      if (dstV.isDefined && !dstDecl.contains(cols) &&
          cols.forall(c => dstVisible.exists(_.equalsIgnoreCase(c))))
        VersionedLake.setPartitionSpec(spark, dstDir, cols): Unit
    }
  }

  /** Apply ONE CDC delta frame (rows carrying `_change_type` /
    * `_commit_version` — a [[VersionedLake.readRowChanges]] window or a
    * `readChanges` stream micro-batch) into `dstDir` as one exactly-once
    * keyed commit: the `foreachBatch` body for CONTINUOUS replication.
    *
    * {{{
    * spark.readStream.format("graft-lake")
    *   .option("path", src).option("readChanges", "true").load()
    *   .writeStream.option("checkpointLocation", ck)
    *   .foreachBatch { (delta, id) =>
    *     LakeReplicate.applyDelta(spark, delta, dst, keys, appId, id): Unit
    *   }.start()
    * }}}
    *
    * A first batch onto an empty destination bootstraps (the stream's
    * initial batch IS the snapshot as inserts); deletes of keys the
    * destination never held are no-ops by key-equality. Exactly-once:
    * `batchId` rides the destination manifest, so the engine's replay
    * after a crash-before-checkpoint commits nothing twice.
    */
  def applyDelta(
      spark: SparkSession,
      delta: DataFrame,
      dstDir: String,
      keys: Seq[String],
      appId: String,
      batchId: Long): Long = {
    val feed = delta.filter(col("_change_type") =!= "update_preimage")
    // Per-key replay, not latest-commit-wins: `insert` events ADD rows
    // to whatever the key already holds (appends under an existing key
    // are legal), while `update_postimage` REPLACES the key's rows and
    // `delete` empties it. So the key's live rows after the window are
    // the last replacing event's rows plus every insert at-or-after it —
    // and when the window holds no replacing event, the mirror's existing
    // rows stay (the key is appended to, never probed). "At-or-after",
    // not strictly after: replace_where (INSERT OVERWRITE PARTITION /
    // dynamic overwrite) commits the matched pre-images as `delete` and
    // the batch as `insert` at the SAME version, and those re-inserts
    // must survive their own replacing delete. The >= cannot
    // double-apply: no single commit tags one key with both
    // `update_postimage` and `insert` (a key is either matched —
    // pre/postimage — or not — insert; replace_where uses delete+insert).
    val repV = max(when(
      col("_change_type").isin("update_postimage", "delete"),
      col("_commit_version"))).over(Window.partitionBy(keys.map(col): _*))
    val tagged = feed.withColumn("_rep_replace_v", repV)
    val live = tagged.filter(
      (col("_change_type") === "update_postimage" &&
        col("_commit_version") === col("_rep_replace_v")) ||
      (col("_change_type") === "insert" &&
        (col("_rep_replace_v").isNull ||
          col("_commit_version") >= col("_rep_replace_v"))))
    val dataCols = feed.columns
      .filterNot(Set("_change_type", "_commit_version", "_rep_replace_v")).toSeq
    val batch = live.select(dataCols.map(col): _*)
    VersionedLake.currentVersion(spark, dstDir) match {
      case None =>
        // bootstrap: the reduced live rows (a delete with no surviving
        // row is already absence)
        VersionedLake.appendCommitTxn(batch, dstDir,
          appId = appId, batchId = batchId, statsCols = keys)
      case Some(dstV) =>
        // probe ONLY the replaced keys: their mirror rows vanish unless
        // re-supplied; insert-only keys append without disturbing the
        // rows the mirror already holds
        val touched = tagged.filter(col("_rep_replace_v").isNotNull)
          .select(keys.map(col): _*).distinct()
        if (tagged.isEmpty)
          // the window nets to nothing for the mirror, but the watermark
          // MUST advance or every later sync re-reads a growing window
          // (and wedges once retention reclaims it) — a metadata-only
          // commit records it
          VersionedLake.commitTxnWatermark(spark, dstDir, appId, batchId)
        else {
          val out = VersionedLake.upsert(spark, dstDir, batch, keys,
            txn = Some(appId -> batchId), probeKeys = Some(touched))
          // the upsert's empty-batch/no-rewrite early return skips the
          // txn record (deletes of keys the mirror never held): same
          // watermark discipline, metadata-only
          if (out == dstV) VersionedLake.commitTxnWatermark(spark, dstDir, appId, batchId)
          else out
        }
    }
  }

  /** The mirror's applied source version, if bootstrapped. */
  def appliedVersion(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      appId: Option[String] = None): Option[Long] =
    VersionedLake.currentVersion(spark, dstDir).flatMap(v =>
      VersionedLake.txnWatermarks(spark, dstDir, v)
        .get(appId.getOrElse(defaultAppId(srcDir))))

  /** ANTI-ENTROPY AUDIT: compare the mirror against the source AT THE
    * VERSION THE MIRROR CLAIMS TO REFLECT (its applied watermark) — so
    * the check measures replication correctness, never freshness lag
    * (run [[sync]] first if you want both). Rows compare as full-row
    * hashes grouped into per-(row-hash) multiset counts, so duplicate
    * rows and multi-row keys audit exactly:
    *
    *   - `src_only` = rows the source version holds that the mirror
    *     lacks (lost writes),
    *   - `dst_only` = rows the mirror holds that the source version
    *     lacks (phantom writes, out-of-band tampering).
    *
    * Both zero ⟺ the mirror is byte-equivalent to its claimed source
    * snapshot. Cost is one scan of EACH side plus one hash-keyed
    * aggregation — O(rows), the honest price of an audit without
    * per-directory content digests; at 100 TB, schedule it like any
    * full-table maintenance (the per-sync exactly-once watermark makes
    * routine divergence impossible, this is the belt-and-braces check).
    * Throws when the watermark's source version is no longer retained
    * (vacuumed past) — verifying against a DIFFERENT version would
    * report false divergence.
    */
  def verify(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      appId: Option[String] = None): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce => cls, greatest}
    val applied = appliedVersion(spark, srcDir, dstDir, appId).getOrElse(
      throw new IllegalStateException(
        s"$dstDir carries no replication watermark for $srcDir - nothing to verify"))
    def hashed(df: DataFrame): DataFrame = {
      // xxhash64 SKIPS null inputs (a null leaves the running hash
      // unchanged), so hashing bare columns would read (NULL,'a') and
      // ('a',NULL) as identical. Interleave an isnull marker before each
      // value: the marker is never null, so the null's POSITION enters
      // the hash even though its value cannot.
      val cols = df.columns.sorted.map(col)
        .flatMap(c => Seq(isnull(c).cast("int"), c))
      df.select(xxhash64(cols: _*).as("_h")).groupBy("_h").agg(count(lit(1)).as("n"))
    }
    val src = hashed(VersionedLake.readVersion(spark, srcDir, applied))
    val dst = hashed(VersionedLake.read(spark, dstDir))
    val d = src.withColumnRenamed("n", "ns")
      .join(dst.withColumnRenamed("n", "nd"), Seq("_h"), "full_outer")
      .select(
        greatest(cls(col("ns"), lit(0L)) - cls(col("nd"), lit(0L)), lit(0L)).as("so"),
        greatest(cls(col("nd"), lit(0L)) - cls(col("ns"), lit(0L)), lit(0L)).as("do"))
      .agg(sum("so"), sum("do")).head()
    val srcOnly = if (d.isNullAt(0)) 0L else d.getLong(0)
    val dstOnly = if (d.isNullAt(1)) 0L else d.getLong(1)
    (applied, srcOnly, dstOnly)
  }
}
