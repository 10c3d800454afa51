package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.engine.Session
import graft.engine.Session.readParquet
import org.apache.spark.sql.functions._

/** Log-structured versioned lake table with ATOMIC publishes — the
  * minimal transaction log that fixes bare-parquet's 100 TB problems:
  *
  *   1. '''No atomic multi-file commit.''' Every commit writes immutable
  *      data directories, then a MANIFEST (`manifest/v=N.txt`, the list
  *      of data directories the version comprises), then publishes by
  *      replacing ONE pointer file (`_latest`) via temp + rename — the
  *      single-object atomicity every store provides. A writer that dies
  *      at any earlier point leaves unreferenced garbage, never a
  *      half-visible table.
  *   2. '''O(delta) appends.''' [[appendCommit]]'s manifest is the prior
  *      version's directory list plus the new batch's directory — a
  *      streaming `foreachBatch` ingests TBs/day writing only its own
  *      batch per commit, while each commit is still a complete,
  *      atomically-published snapshot.
  *   3. '''Snapshot isolation.''' [[upsert]] writes merged data into NEW
  *      directories while the old version's files stay on disk: the plan
  *      streams straight from read to write (no localCheckpoint barrier —
  *      the workaround an in-place partition overwrite needs because it
  *      overwrites what it reads), and in-flight readers of v=N never
  *      observe v=N+1. Retained versions are time travel until [[vacuum]].
  *   4. '''Manifest-level data skipping.''' Commits may record per-data-
  *      directory min/max column stats in the manifest ([[StatsHeader]]);
  *      [[pruneDirsForFilters]] prunes whole directories against them
  *      for every catalog scan BEFORE the scan is planned — no file
  *      listing, no parquet footer reads for skipped commits. On a time-keyed ingest (the common shape: each
  *      micro-batch covers a narrow time range) a point-in-range query
  *      over a year of commits plans against days, not the year; footer-
  *      level row-group pruning then works WITHIN the survivors. Stats
  *      travel with the manifest, so they are exactly as atomic and
  *      versioned as the data they describe. Per-directory BLOOM filters
  *      ([[BloomHeader]]) cover the case min/max can't: point lookups
  *      on high-cardinality keys whose range spans every ingest batch.
  *
  *   5. '''Optimistic concurrency.''' Version numbers are claimed
  *      create-exclusively ([[createExclusive]]): of two committers that
  *      both based on v=N exactly one publishes v=N+1, the other gets
  *      [[CommitConflictException]] and re-bases ([[appendCommit]] retries
  *      re-reading only the manifest — its data directory is already
  *      durable; [[upsert]]/[[optimize]] re-run their read-modify-write
  *      against the new snapshot, gated on `expectedBase`). Never
  *      last-writer-wins: a multi-writer deployment (two `foreachBatch`
  *      streams, ingest racing OPTIMIZE) cannot silently lose a commit.
  *
  * Layout: `table/data/<uuid>/...parquet` (immutable),
  * `table/manifest/v=N.txt` (the listing is the authoritative version
  * source), `table/_latest` holding N as a fast-path hint.
  */
object VersionedLake {

  /** The DOCUMENTED CDC refusal: [[readRowChanges]] (and the `t$changes`
    * view riding it) throws this — and only this — when a window cannot
    * be replayed row-level (a pre-artifact copy-on-write rewrite, a
    * rollback/snapshot replace). Extends IllegalStateException so
    * callers that matched the broad type keep working, but fallback
    * sites (index/view maintenance downgrading to the manifest diff)
    * catch THIS type specifically — an unrelated IllegalStateException
    * from deeper in the read must surface, not silently reroute onto
    * the lossier path.
    */
  final class CdcWindowRefusedException(msg: String)
      extends IllegalStateException(msg)

  private val Pointer = "_latest"

  /** Age beyond which a zero-length manifest is judged a crashed
    * committer's orphan rather than an in-flight open-fenced publish.
    * A manifest body is a few KB — an open-fence window (create → write
    * → close) lives milliseconds; a zero-length file this old has no
    * writer coming back for it. Fifteen minutes, not one: a live
    * committer stalled by a GC pause or a network partition can
    * plausibly sit minutes between its create and close, and preempting
    * it risks a lost commit on stores whose close still succeeds — the
    * heal trades wedge-duration (bounded, self-clearing) against that
    * loss, so the window errs long. The belt-and-braces half is in
    * [[HadoopCreateCommitStore.createExclusive]]: after close, the
    * committer re-reads its manifest and verifies the bytes are ITS
    * bytes, so a committer that WAS preempted inside the window fails
    * loudly as a conflict instead of both writers reporting success.
    */
  private[graft] val OrphanManifestGraceMs = 15L * 60 * 1000

  /** The post-close half of the heal contract: the published file must
    * hold exactly the committer's own bytes, else the publish was
    * preempted and the loss must surface as a conflict, not a success.
    */
  private[graft] def assertOwnPublish(
      where: String,
      expected: Array[Byte],
      actual: Array[Byte]): Unit =
    if (!java.util.Arrays.equals(actual, expected))
      throw new CommitConflictException(
        s"$where holds another committer's bytes after close - this " +
          "publish was preempted by the orphan heal during a stall")

  /** Manifest header line carrying the version's canonical schema as
    * single-line Spark JSON. Schema evolution design: the merged schema
    * is computed ONCE at commit time (union-by-name of the prior
    * version's schema and the batch's, new columns appended, everything
    * nullable) and stored in the manifest; reads pass it to the scan as
    * an explicit schema, which makes the parquet reader null-backfill
    * columns a file predates — ONE scan over all directories, no
    * `mergeSchema` footer sweep (which would re-read 10^5 footers per
    * read on a year of micro-batch commits). Same-name columns must
    * keep their type across commits — batches cast before committing;
    * the sanctioned exception is [[widenColumn]]'s metadata-only
    * promotion, where the readers themselves upcast each file.
    * Manifests written before this header existed read as before
    * (first-file schema), so old tables stay readable.
    */
  private val SchemaHeader = "#schema="

  /** Manifest comment line carrying one data directory's column stats:
    * `#stats=<dir>\t{"col":["min","max"],...}` with min/max as the
    * column's Spark string-cast (null for an all-null directory). Only
    * [[LakeMetaAgg.bounds]] decodes them, into typed values every pruner
    * and merger compares; a TIMESTAMP's bounds come from its `#ndv`
    * histogram edges instead, since its render depends on the session
    * time zone at commit. Comment-prefixed, so [[manifest]] and
    * pre-stats readers skip them;
    * directories without a stats line are read unconditionally
    * (conservative — absence of evidence never drops data). Like every
    * per-directory layer below, carried by [[publishManifest]].
    */
  private val StatsHeader = "#stats="

  /** Manifest comment line carrying one data directory's per-column Bloom
    * filters: `#bloom=<dir>\t{"col":{"m":bits,"k":hashes,"b":"base64"},...}`.
    * Complements [[StatsHeader]] where min/max is useless: a
    * high-cardinality key (uuid, doc_id, user_id) spread uniformly over
    * every ingest batch has each directory's [min,max] spanning the whole
    * domain, so range stats prune nothing — but a point lookup probes the
    * Bloom and skips every directory that provably lacks the key.
    * Comment-prefixed like stats: pre-bloom readers ignore the lines,
    * bloom-less directories are read conservatively.
    */
  private val BloomHeader = "#bloom="

  /** Manifest comment line carrying one data directory's per-column NDV
    * layer: `#ndv=<dir>\t{"col":{"h":"<base64 HLL sketch>","n":nulls},...}`
    * — a mergeable DataSketches HLL sketch of the column's non-null
    * values (built in the SAME aggregation pass as the min/max stats
    * line, so it costs the commit nothing extra in passes) plus the
    * exact null count. This is the COLUMN-LEVEL half of CBO statistics:
    * `#rows` gives Catalyst exact row counts, but join ordering on a
    * multi-join plan needs per-column cardinalities — at 100 TB a build
    * side chosen on row count alone is the classic 10× plan miss. At
    * planning time the kept directories' sketches UNION driver-side
    * (O(dirs) metadata work, sketches are a few KB) into one
    * distinct-count estimate the scan reports through DSv2
    * `columnStats()`. Comment-prefixed like stats/bloom: absence just
    * means no column statistics (conservative).
    */
  private val NdvHeader = "#ndv="

  /** Manifest comment line carrying a writer's transaction watermark:
    * `#txn=<appId>\t<batchId>`. [[appendCommitTxn]] makes `foreachBatch`
    * ingest EXACTLY-ONCE: streaming engines replay a batch after a
    * failure, and without the watermark a retry of a batch whose commit
    * DID land appends its rows twice. The highest committed batchId per
    * appId rides every manifest ([[publishManifest]] carries the base's
    * watermarks into every commit — a compaction or a rollback must not
    * forget writer progress), so a replayed batch sees
    * `batchId <= watermark` and no-ops. One line per writer, O(writers)
    * manifest overhead.
    */
  private val TxnHeader = "#txn="

  /** Manifest comment line recording a MERGE-ON-READ equality delete:
    * `#eqdelete=<deleteDir>\t{"keys":["k"],"dirs":["d1","d2"]}`. The
    * delete file (`table/deletes/<deleteDir>/`, parquet of key rows)
    * logically removes every row of the LISTED data directories whose
    * key matches — without rewriting any of them. [[deleteKeysMor]]
    * publishes one in O(delta): the write is the key set, not the
    * affected directories (Iceberg v2 equality deletes / Delta deletion
    * vectors occupy the same design point). Readers anti-join the
    * delete keys onto scans of the listed directories; data appended
    * AFTER the delete is outside the list, so a re-inserted key is
    * visible again (the list pins delete scope at publish time, which is
    * what makes the anti-join sound under later appends). The read-side
    * cost is one broadcast anti-join per pending delete file until
    * [[materializeDeletes]] (or any [[optimize]]) folds them into the
    * data — run it on the same cadence as compaction. Keyed/predicate
    * rewrites ([[upsert]], [[deleteKeys]], [[deleteWhere]],
    * [[updateWhere]]) refuse to run over pending merge-on-read deletes
    * rather than silently resurrect rows; materialize first.
    */
  private val EqDeleteHeader = "#eqdelete="

  /** One pending merge-on-read equality delete: `dir` under
    * `table/deletes/` holds the key rows, `keys` names the equality
    * columns, `dirs` the data directories it applies to (pinned at
    * publish time — later appends are out of scope by construction).
    * `counts` — when the COMMIT already paid the matched scan (position
    * deletes from deleteWhereMor/updateWhereMor) — holds the EXACT
    * per-directory deleted-row counts, which keeps `count(*)`
    * metadata-only on a table with pending deletes (logical rows =
    * physical `#rows` − deleted). Empty = unknown (keyed deletes never
    * read data at commit — that is their whole point), and every
    * consumer treats unknown as "stand down", never as zero.
    */
  final case class EqDelete(
      dir: String,
      keys: Seq[String],
      dirs: Seq[String],
      counts: Map[String, Long] = Map.empty)

  /** Reserved "key" names marking a POSITION delete file (Iceberg v2
    * position deletes / Delta deletion vectors): instead of key rows,
    * the delete file holds `(_pos_file, _pos_row)` — the dir-relative
    * parquet path and the row's index within it, taken off the scan's
    * own `_metadata` columns. A position delete rides the SAME manifest
    * line, scope rule, retention, and read-side anti-join machinery as
    * an equality delete — the reserved names are what tell the reader
    * to join on physical row identity (attached at scan time) rather
    * than data columns. This is the KEYLESS O(delta) delete: a
    * predicate delete on a table with no key columns pays O(matched
    * rows) positions at write instead of rewriting every affected
    * directory ([[deleteWhereMor]]). The sentinel names can never
    * collide with data columns a delete would key on — keyed MoR
    * deletes type-check their keys against the committed schema.
    */
  private[sources] val PosDeleteKeys = Seq("_pos_file", "_pos_row")

  private[sources] def isPosDelete(e: EqDelete): Boolean = e.keys == PosDeleteKeys

  /** The scan-time physical row identity the position-delete anti-join
    * matches on: dir-relative file path (greedy `.*` anchors at the
    * LAST `/data/`, so a table path containing "/data/" cannot shift
    * it) + the parquet row index. Must be attached BEFORE any
    * projection — Spark hides `_metadata` after a select.
    */
  private def posIdentityCols: Seq[org.apache.spark.sql.Column] = Seq(
    regexp_extract(col("_metadata.file_path"), "^.*/data/(.*)$", 1).as("_pos_file"),
    col("_metadata.row_index").as("_pos_row"))

  /** Exact per-directory tallies of a matched position-delete frame —
    * `_pos_file` is the dir-relative path, so its first segment IS the
    * data directory. O(matched) over a frame the caller already
    * persisted for the write.
    */
  private def posDeleteCounts(matched: DataFrame): Map[String, Long] =
    matched.groupBy(substring_index(col("_pos_file"), "/", 1).as("_d"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Manifest comment line carrying one data directory's EXACT row and
    * byte counts: `#rows=<dir>\t{"n":123,"bytes":4567}`. Rows come from
    * the parquet footers of the directory's files (the writer already
    * paid for them; reading a footer costs one metadata fetch, no data
    * pages), bytes from the file listing — both gathered ONCE when the
    * directory first enters a manifest. Two things feed off this at 100 TB:
    * `SELECT count(*)` (and table-level CBO statistics) answer from the
    * manifest alone — zero file opens on a table with 10^5 directories —
    * and Catalyst's join planning gets an EXACT row count instead of a
    * size-derived guess, so a small lake table auto-broadcasts without a
    * hint. Comment-prefixed like stats: pre-rows readers skip the lines,
    * and a version missing a line for some directory simply refuses the
    * metadata-only shortcuts (conservative, never wrong).
    */
  private val RowsHeader = "#rows="

  /** Manifest comment line naming the operation that produced the
    * version: `#op=append` / `upsert_mor` / `optimize` / ... — the
    * commit-log classification a CHANGE FEED needs. [[readRowChanges]]
    * turns the history into row-level CDC events, and the op line is
    * what lets it distinguish "optimize rewrote the layout but changed
    * no rows" (emit nothing) from "a copy-on-write rewrite changed rows
    * in place" (refuse — the manifest diff alone cannot reconstruct the
    * row delta) without guessing from directory shapes. Pre-op manifests
    * read as None and fall back to a conservative structural inference.
    */
  private val OpHeader = "#op="

  /** First-line marker of a PENDING multi-table-transaction manifest
    * ([[LakeAtomicTxn]]): `#txn2pc:<decision-file-path>`. The version becomes
    * reader-visible exactly when the decision file says `commit`;
    * finalization later strips the marker (hygiene — a `#` header line
    * every parser skips, so a committed-but-unfinalized manifest already
    * reads correctly).
    */
  private[graft] val Txn2pcHeader = "#txn2pc:"

  /** `#changes=<dir>`: the version's ROW-LEVEL CHANGE ARTIFACT — parquet
    * under `changes/` holding the commit's logical row delta as
    * `(data columns..., _change_type)`. Copy-on-write commits
    * ([[upsert]], [[deleteWhere]], [[updateWhere]], [[deleteKeys]])
    * write it at commit time from the pre-image rows their probe already
    * materializes — O(matched rows), the same bargain Delta's Change
    * Data Feed strikes — which is what makes those paths (and the SQL
    * MERGE/UPDATE/DELETE riding them) composable with [[readRowChanges]]
    * instead of mutually exclusive with it. Append/MoR commits carry no
    * line: their deltas reconstruct from the manifest diff for free.
    * Artifacts are manifest-referenced state like delete files: retained
    * by vacuum while any kept manifest cites them.
    */
  private val ChangesHeader = "#changes="

  /** Manifest comment line recording one data directory's hive-partition
    * column chain: `#parts=<dir>\t["day","region"]`. Written at the
    * directory's FIRST manifest (from its self-describing `k=v` layout).
    * The layer that makes PARTITION SPEC EVOLUTION first-class: a
    * version may mix directories written under different specs (or
    * none), readers group per spec, and the mixed-spec detection costs
    * one memoized manifest parse instead of
    * an O(dirs) directory walk per plan. Directories without a line are
    * unpartitioned (or predate the header, which can only happen for
    * single-spec tables — evolution requires commits made after it).
    */
  private val PartsHeader = "#parts="

  /** Manifest header DECLARING the partition spec NEW batches follow:
    * `#declspec=["region","day"]` — the write-side half of partition
    * spec evolution (the `#parts` lines are the read-side half). Without
    * it the spec for new writes is whatever the NEWEST data directory
    * happens to render ([[declaredOrPhysicalParts]]' physical fallback),
    * which is self-reinforcing and therefore unchangeable. A
    * [[setPartitionSpec]] commit writes the line and later commits carry
    * it, so the declaration is snapshot-versioned — time travel to a
    * pre-evolution version plans new hypothetical writes under THAT
    * version's spec, and a rollback restores the old declaration with
    * the old data. An empty array is
    * a real declaration (evolve to UNPARTITIONED going forward), which
    * the physical fallback could never express. Absence = no declaration
    * ever made = newest-dir physical behavior, byte-compatible with
    * every pre-header manifest.
    */
  private val DeclSpecHeader = "#declspec="

  /** Field-metadata key carrying a renamed column's FORMER physical
    * names — the lake's field-id indirection. [[renameColumn]] is a
    * manifest-only commit: the schema's field takes the new name and
    * records every name files were ever written under; [[readDirs]]
    * resolves the logical column as `coalesce(newName, formerNames...)`
    * (each file carries exactly one of the variants), so zero data
    * files are touched and every retained version still reads under
    * ITS OWN manifest's names. Rewrites (optimize, copy-on-write)
    * normalize: they write files under the logical names, and a full
    * compaction drops the indirection entirely.
    */
  private[sources] val AkaKey = "graft.aka"

  private[sources] def akaNames(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(AkaKey)) f.metadata.getStringArray(AkaKey).toSeq else Nil

  private[sources] def hasRenames(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => akaNames(f).nonEmpty)

  /** Field-metadata marker for a METADATA-ONLY dropped column: the field
    * stays in the committed schema as a TOMBSTONE (files still carry its
    * data, and its name — plus any former names — must never be rebound
    * to fresh data), but every read projects it away. A full compaction
    * rewrites files without the column and drops the tombstone with the
    * rest of the indirection.
    */
  private[sources] val DroppedKey = "graft.dropped"

  private[sources] def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** The reader-visible schema: committed schema minus tombstones. */
  def visibleSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.filterNot(isDropped))

  private[sources] def needsResolve(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => akaNames(f).nonEmpty || isDropped(f))

  /** Alias sets for `base`'s live fields accumulated over the committed
    * schemas of versions `(loExclusive, hi]`: every name a logical
    * column has EVER carried inside that span, linked transitively —
    * including across a compaction, which sheds the aka metadata from
    * the schema it publishes (the pre-compaction versions still carry
    * the chain, and this walk reads them). Missing (vacuumed) manifests
    * skip; the span is the caller's frame window, so cost is O(window)
    * small-file reads the caller is about to pay anyway.
    */
  private[sources] def fieldAliases(
      spark: SparkSession,
      tableDir: String,
      base: org.apache.spark.sql.types.StructType,
      loExclusive: Long,
      hi: Long): Map[String, Seq[String]] = {
    val sets = base.fields.filterNot(isDropped).map { f =>
      f.name -> scala.collection.mutable.LinkedHashSet((f.name +: akaNames(f)): _*)
    }.toSeq
    var v = hi
    while (v > loExclusive && v >= 0) {
      scala.util.Try(versionSchema(spark, tableDir, v)).toOption.flatten.foreach { sch =>
        sch.fields.foreach { f =>
          val names = f.name +: akaNames(f)
          sets.find { case (_, set) => names.exists(set.contains) }
            .foreach { case (_, set) => names.foreach(n => set.add(n): Unit) }
        }
      }
      v -= 1
    }
    sets.map { case (k, s2) => k -> s2.toSeq }.toMap
  }

  /** A FULL rewrite (optimize/optimizeClustered) re-writes every file
    * under the logical names and without dropped columns — the
    * rename/drop indirection has nothing left to indirect, so the
    * compacted manifest sheds tombstones and former names (and pushdown
    * on a renamed column, degraded to post-coalesce filtering while old
    * files existed, comes back).
    */
  private def stripAka(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.filterNot(isDropped).map { f =>
      if (f.metadata.contains(AkaKey))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(AkaKey).build())
      else f
    })

  /** Bloom sizing for [[commit]]/[[appendCommit]]/[[optimize]]. Defaults
    * give ~10 bits/key at 100k distinct keys per directory (FP ≈ 1%);
    * size `bits` ≥ 10× the expected distinct keys per commit. Cost is
    * bits/8 bytes per directory per column in the manifest, and one
    * O(delta) aggregation per column at commit time.
    */
  final case class BloomConfig(cols: Seq[String], bits: Int = 1 << 20, k: Int = 7) {
    // bits < 8 would allocate a zero-length byte array and fail the commit
    // AFTER data directories land; realistically size >= 1024
    require(bits >= 8 && (bits & (bits - 1)) == 0,
      s"bloom bits must be a power of two >= 8: $bits")
    require(k >= 1 && k <= 16, s"bloom k out of range: $k")
  }

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmallFile(spark: SparkSession, path: org.apache.hadoop.fs.Path): String = {
    val f = fs(spark, path.toString)
    val in = f.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Thrown when a concurrent committer published the version this writer
    * was about to claim. The loser's data directories are already on disk
    * (immutable, unreferenced — harmless garbage until vacuum); the caller
    * re-reads the new current version, re-bases, and retries or aborts.
    * Without this, two committers that both read v=N and both publish
    * v=N+1 would silently drop one commit from the table — the
    * last-writer-wins failure every real lake (Delta, Iceberg) rejects.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  // narrow accessors for [[LakeAtomicTxn]] (same package, different file)
  private[sources] def fsOf(spark: SparkSession, dir: String) = fs(spark, dir)
  private[sources] def readSmallFileAt(
      spark: SparkSession,
      dir: String,
      p: org.apache.hadoop.fs.Path): String = readSmallFile(spark, p)
  private[sources] def atomicWriteAt(
      spark: SparkSession,
      dir: String,
      name: String,
      content: String): Unit = atomicWrite(spark, dir, name, content)
  private[sources] def advancePointer(
      spark: SparkSession,
      tableDir: String,
      version: Long): Unit = atomicWrite(spark, tableDir, Pointer, version.toString)

  /** The TWO storage primitives every lake publish reduces to — the
    * LogStore seam production lakes split on (Delta's LogStore, an
    * Iceberg catalog's commit op). Everything above this trait (manifest
    * layout, optimistic concurrency, retries, stats/blooms) is
    * store-agnostic; deploying on a store with different atomicity
    * guarantees means implementing these two calls and nothing else.
    */
  trait CommitStore {
    /** Publish `content` at `dir/name`, REPLACING any existing file, such
      * that readers observe either the old complete content or the new —
      * never a partial write. Used for the [[Pointer]] hint.
      */
    def atomicWrite(spark: SparkSession, dir: String, name: String, content: String): Unit

    /** Create `dir/name` with `content` atomically and EXCLUSIVELY: the
      * file appears complete or not at all, and if it already exists (a
      * concurrent committer won the version) this throws
      * [[CommitConflictException]] instead of replacing it. The entire
      * multi-writer story rests on this one call.
      */
    def createExclusive(spark: SparkSession, dir: String, name: String, content: String): Unit
  }

  /** Default store for filesystems with native atomicity primitives.
    *
    * Local filesystems: POSIX `rename(2)` REPLACES an existing
    * destination, so tmp+rename cannot detect the exclusive-create race —
    * instead the full content is staged to a tmp file and `link(2)`-ed to
    * the destination (`Files.createLink`), which the kernel guarantees
    * fails atomically with EEXIST; the destination therefore appears with
    * its complete content. HDFS-like stores: their `rename` contractually
    * FAILS when the destination exists, so tmp+rename is already
    * atomic-exclusive. Raw object stores (S3) guarantee neither — use
    * [[ConditionalPutStore]]'s shape there.
    */
  object FsCommitStore extends CommitStore {
    def atomicWrite(spark: SparkSession, dir: String, name: String, content: String): Unit = {
      val f = fs(spark, dir)
      val dst = f.makeQualified(new org.apache.hadoop.fs.Path(dir, name))
      if ("file".equalsIgnoreCase(dst.toUri.getScheme)) {
        val dstP = java.nio.file.Paths.get(dst.toUri.getPath)
        java.nio.file.Files.createDirectories(dstP.getParent)
        val tmpP = dstP.resolveSibling(s"$name.${java.util.UUID.randomUUID()}.tmp")
        java.nio.file.Files.write(tmpP,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmpP, dstP,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s"$name.${java.util.UUID.randomUUID()}.tmp")
        val out = f.create(tmp, true)
        try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (f.exists(dst)) f.delete(dst, false)
        require(f.rename(tmp, dst), s"atomic publish of $dir/$name failed")
      }
    }

    def createExclusive(spark: SparkSession, dir: String, name: String, content: String): Unit = {
      val f = fs(spark, dir)
      val dst = f.makeQualified(new org.apache.hadoop.fs.Path(dir, name))
      if ("file".equalsIgnoreCase(dst.toUri.getScheme)) {
        val dstP = java.nio.file.Paths.get(dst.toUri.getPath)
        java.nio.file.Files.createDirectories(dstP.getParent)
        val tmpP = dstP.resolveSibling(s"$name.${java.util.UUID.randomUUID()}.tmp")
        java.nio.file.Files.write(tmpP,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        try java.nio.file.Files.createLink(dstP, tmpP)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmpP)
            throw new CommitConflictException(
              s"$dir/$name was published by a concurrent committer")
        }
        java.nio.file.Files.deleteIfExists(tmpP)
      } else {
        val dirPath = new org.apache.hadoop.fs.Path(dir)
        if (!f.exists(dirPath)) f.mkdirs(dirPath)
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s"$name.${java.util.UUID.randomUUID()}.tmp")
        val out = f.create(tmp, true)
        try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (f.exists(dst) || !f.rename(tmp, dst)) {
          f.delete(tmp, false)
          throw new CommitConflictException(
            s"$dir/$name was published by a concurrent committer")
        }
      }
    }
  }

  /** Commit store for object stores with NO atomic-exclusive primitive —
    * the S3 deployment shape, runnable as a contract test. The store
    * model: a PUT places a complete object (temp + replacing rename here,
    * matching S3's per-object atomic PUT) but provides NO exclusivity —
    * a bare write is last-writer-wins. Mutual exclusion comes ENTIRELY
    * from an external compare-and-set claim: here an in-process claim
    * table; in production S3's conditional PUT (`If-None-Match: *`) or a
    * DynamoDB-style lock table — the same LogStore split Delta's
    * S3DynamoDBLogStore makes. The concurrency spec runs its race matrix
    * against this store, proving the lake's multi-writer guarantees
    * survive a store whose rename offers nothing: swap the claim table
    * for the real conditional PUT and nothing else changes.
    *
    * Scope: the in-process claim table fences writers in THIS process
    * (the contract test's scope); cross-process exclusion is exactly what
    * the production CAS supplies behind the same call.
    */
  final class ConditionalPutStore extends CommitStore {
    private val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    private def put(spark: SparkSession, dir: String, name: String, content: String): Unit = {
      // a PUT: complete object appears, replacing whatever was there —
      // deliberately NOT exclusive (rename with REPLACE_EXISTING)
      val f = fs(spark, dir)
      val dst = f.makeQualified(new org.apache.hadoop.fs.Path(dir, name))
      val dstP = java.nio.file.Paths.get(dst.toUri.getPath)
      java.nio.file.Files.createDirectories(dstP.getParent)
      val tmpP = dstP.resolveSibling(s"$name.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmpP,
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmpP, dstP,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    def atomicWrite(spark: SparkSession, dir: String, name: String, content: String): Unit =
      put(spark, dir, name, content)

    def createExclusive(spark: SparkSession, dir: String, name: String, content: String): Unit = {
      val key = s"$dir/$name"
      // the conditional-PUT claim IS the exclusivity; the object write
      // below is an ordinary last-writer-wins PUT
      val f = fs(spark, dir)
      val dst = f.makeQualified(new org.apache.hadoop.fs.Path(dir, name))
      if (!claims.add(key) || f.exists(dst))
        throw new CommitConflictException(
          s"$dir/$name was published by a concurrent committer (conditional PUT failed)")
      put(spark, dir, name, content)
    }
  }

  /** Commit store on the Hadoop `FileSystem` create-exclusive primitive —
    * the production object-store/HDFS shape, executable end to end: the
    * claim and the content ride ONE stream opened with
    * `createFile(dst).overwrite(false)`, so whichever writer the store
    * admits owns the version. Where the exclusivity fence sits depends
    * on the store: HDFS claims at OPEN (namenode-atomic create; a
    * concurrent creator gets FileAlreadyExists/AlreadyBeingCreated),
    * S3A's conditional-create claims at CLOSE (the `If-None-Match: *`
    * PUT — content is complete by construction when the claim lands),
    * and local files map to `O_CREAT|O_EXCL` (kernel-atomic at open,
    * which is what lets the concurrency matrix prove the contract
    * in-process). Both failure points translate to
    * [[CommitConflictException]]. The open-fenced stores (HDFS) admit a
    * reader glimpsing a created-but-unclosed manifest — the documented
    * trade of create-based claims; deployments wanting a close-fence on
    * plain HDFS keep [[FsCommitStore]]'s tmp+rename instead.
    */
  final class HadoopCreateCommitStore extends CommitStore {
    def atomicWrite(spark: SparkSession, dir: String, name: String, content: String): Unit =
      FsCommitStore.atomicWrite(spark, dir, name, content)

    def createExclusive(spark: SparkSession, dir: String, name: String, content: String): Unit = {
      val f = fs(spark, dir)
      val dst = f.makeQualified(new org.apache.hadoop.fs.Path(dir, name))
      val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // Post-close verification, the second half of the orphan-heal
      // contract: a committer stalled past [[OrphanManifestGraceMs]]
      // inside its open fence can be preempted (its zero-length file
      // healed away, the version re-claimed), and on filesystems where
      // its close still succeeds BOTH writers would report success with
      // one commit silently lost. Re-reading the published file and
      // requiring OUR bytes turns that silent loss into a loud conflict
      // (the caller's retry loop re-bases onto the next version). Length
      // alone is not enough — two same-version manifests share all prior
      // lines and differ only in a fixed-width directory UUID, so their
      // lengths collide exactly when it matters. One small-file read per
      // commit, on this store only.
      def verifyOwnBytes(read: => Array[Byte]): Unit = {
        val got =
          try read
          catch {
            case e: java.io.IOException =>
              throw new CommitConflictException(
                s"$dir/$name vanished after close (preempted by the orphan " +
                  s"heal): ${e.getMessage}")
          }
        assertOwnPublish(s"$dir/$name", bytes, got)
      }
      if ("file".equalsIgnoreCase(dst.toUri.getScheme)) {
        val dstP = java.nio.file.Paths.get(dst.toUri.getPath)
        java.nio.file.Files.createDirectories(dstP.getParent)
        val out =
          try java.nio.file.Files.newOutputStream(dstP,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new CommitConflictException(
                s"$dir/$name was published by a concurrent committer (O_EXCL create failed)")
          }
        try out.write(bytes) finally out.close()
        verifyOwnBytes(java.nio.file.Files.readAllBytes(dstP))
      } else {
        val dirPath = new org.apache.hadoop.fs.Path(dir)
        if (!f.exists(dirPath)) f.mkdirs(dirPath)
        def conflict(c: Throwable) = new CommitConflictException(
          s"$dir/$name was published by a concurrent committer (exclusive create failed: " +
            s"${c.getClass.getSimpleName})")
        val out =
          try f.createFile(dst).overwrite(false).build()
          catch {
            case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw conflict(e)
            // only the exists/being-created classes are a lost race;
            // permission / safe-mode / quota RemoteExceptions must
            // surface as themselves, not spin the conflict-retry loop
            case e: org.apache.hadoop.ipc.RemoteException
                if e.getClassName != null &&
                  (e.getClassName.contains("AlreadyBeingCreated") ||
                    e.getClassName.contains("FileAlreadyExists")) => throw conflict(e)
          }
        // S3A conditional create surfaces the lost claim at close — the
        // whole write maps to one conditional PUT. On ANY failure the
        // stream must still close (best-effort): an abandoned open
        // stream would hold an HDFS lease on the version slot and turn
        // every later committer's AlreadyBeingCreated into a bogus
        // eternal "conflict"
        var closed = false
        try { out.write(bytes); out.close(); closed = true }
        catch {
          case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw conflict(e)
          case e: java.io.IOException
              if String.valueOf(e.getMessage).contains("PreconditionFailed") ||
                String.valueOf(e.getMessage).contains("412") =>
            closed = true // close already ran (the claim failure IS the close)
            throw conflict(e)
        } finally {
          if (!closed) {
            try out.close() catch { case _: Throwable => () }
          }
        }
        verifyOwnBytes {
          val in = f.open(dst)
          try {
            val buf = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 64 * 1024, false)
            buf.toByteArray
          } finally in.close()
        }
      }
    }
  }

  /** The active commit store. Swap at deployment startup for stores
    * without native atomic-exclusive create; [[withCommitStore]] scopes a
    * swap for tests.
    */
  @volatile private[graft] var commitStore: CommitStore = FsCommitStore

  private[graft] def withCommitStore[A](cs: CommitStore)(body: => A): A = {
    val prev = commitStore
    commitStore = cs
    try body finally commitStore = prev
  }

  private def atomicWrite(
      spark: SparkSession,
      dir: String,
      name: String,
      content: String): Unit = commitStore.atomicWrite(spark, dir, name, content)

  private[graft] def createExclusive(
      spark: SparkSession,
      dir: String,
      name: String,
      content: String): Unit = commitStore.createExclusive(spark, dir, name, content)

  /** Currently published version; None for an empty/uninitialized table.
    *
    * Authoritative source: the MAX version present in the manifest
    * directory (one LIST call — manifests appear atomically-complete via
    * [[createExclusive]], and [[optimize]]/[[vacuum]] bound the listing).
    * The [[Pointer]] file is kept as a fast-path HINT and floor — it is
    * updated after the manifest, so deriving the version from the listing
    * closes the window where a committer has published its manifest but
    * not yet moved the pointer (a crash there would otherwise wedge every
    * later committer on a permanent conflict at that version).
    */
  def currentVersion(spark: SparkSession, tableDir: String): Option[Long] = {
    val f = fs(spark, tableDir)
    val p = new org.apache.hadoop.fs.Path(tableDir, Pointer)
    // tolerate the pointer vanishing mid-read (an HDFS-like store's
    // delete+rename replace window) — the manifest listing still answers
    val hint = scala.util.Try(readSmallFile(spark, p).trim.toLongOption)
      .toOption.flatten
    val manRoot = new org.apache.hadoop.fs.Path(s"$tableDir/manifest")
    // an open-fenced publish ([[HadoopCreateCommitStore]] on HDFS) lists
    // its manifest the moment the create opens, with ZERO visible length
    // until the writer's close — resolving to it would hand readers a
    // version with no schema/op/dirs. Skip zero-length manifests (the
    // listing already carries lengths, no extra read): the fence window
    // degrades to "previous version" instead of a broken read. A writer
    // that CRASHES inside the fence leaves the zero-length file forever;
    // [[publishManifest]] detects that orphan on its claim conflict
    // (stale beyond [[OrphanManifestGraceMs]]) and deletes it, so the
    // table self-heals instead of wedging every later commit on a
    // version this filter can never resolve to.
    val candidates =
      if (!f.exists(manRoot)) Nil
      else f.listStatus(manRoot)
        .filter(_.getLen > 0)
        .flatMap(s => s.getPath.getName.stripPrefix("v=").stripSuffix(".txt").toLongOption)
        .toSeq.sorted(Ordering[Long].reverse)
    // multi-table transactions ([[LakeAtomicTxn]]) publish PENDING manifests
    // whose first line points at the txn's decision file; such a version
    // is visible exactly when the decision says "commit" — the decision
    // write is the one atomic point for ALL participating tables. The
    // walk only reads manifest content when the newest candidate IS
    // pending (memoized read otherwise never happens on the hot path:
    // finalized manifests carry no marker, and the marker check is a
    // prefix test on the first line).
    val listed = candidates.find(v => txn2pcVisible(spark, tableDir, v))
    (hint, listed) match {
      case (Some(h), Some(l)) => Some(math.max(h, l))
      case (h, l)             => h.orElse(l)
    }
  }

  /** Whether version `v` is reader-visible: true for ordinary manifests;
    * for a [[LakeAtomicTxn]] PENDING manifest, true exactly when the txn's
    * decision file says commit (finalization to a marker-less manifest
    * is hygiene, not the visibility point). Committed-but-unfinalized
    * manifests read correctly as-is — the marker is a `#` header line
    * every parser already skips.
    */
  private def txn2pcVisible(spark: SparkSession, tableDir: String, v: Long): Boolean =
    txn2pcDecisionPath(spark, tableDir, v) match {
      case None => true
      case Some(dp)
          if Option(LakeAtomicTxn.assumeDecided.get()).exists(_.contains(dp)) =>
        // a multi-commit branch staging its NEXT write: this thread
        // treats its own chain as committed (and must NOT finalize — the
        // real decision has not happened)
        true
      case Some(dp) =>
        val committed = txn2pcDecision(spark, tableDir, dp).contains("commit")
        // eager hygiene: the first reader of a committed-but-unfinalized
        // manifest (dead coordinator) strips the marker, so later reads
        // stop paying the decision-file lookup
        if (committed) LakeAtomicTxn.finalizePending(spark, tableDir, v)
        committed
    }

  private[sources] def invalidateManifestCache(tableDir: String, v: Long): Unit =
    manifestCache.remove((tableDir, v))

  private[graft] def txn2pcDecisionPath(
      spark: SparkSession,
      tableDir: String,
      v: Long): Option[String] =
    scala.util.Try(manifestLines(spark, tableDir, v)).toOption
      .getOrElse(Nil).headOption
      .filter(_.startsWith(Txn2pcHeader))
      .map(_.stripPrefix(Txn2pcHeader).trim)

  private[graft] def txn2pcDecision(
      spark: SparkSession,
      tableDir: String,
      decisionPath: String): Option[String] =
    scala.util.Try(
      readSmallFile(spark, new org.apache.hadoop.fs.Path(decisionPath)).trim)
      .toOption.filter(_.nonEmpty)

  /** Data-directory names a retained version comprises. */
  def manifest(spark: SparkSession, tableDir: String, version: Long): Seq[String] =
    manifestLines(spark, tableDir, version).filterNot(_.startsWith("#"))

  /** The version's committed schema, if its manifest carries one
    * (manifests predating the schema header yield None → first-file
    * schema at read, the old behavior).
    */
  def versionSchema(
      spark: SparkSession,
      tableDir: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    headerValue(spark, tableDir, version, SchemaHeader).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Memoized manifest reads. A published manifest is write-once
    * ([[CommitStore.createExclusive]]), so its parsed lines are cacheable
    * — and every metadata helper ([[commitOp]], [[versionSchema]],
    * [[dirEqDeletes]], [[dirRowCounts]], [[changesArtifact]], ...) parses
    * the same file, so an un-memoized [[readRowChanges]] window or a
    * catalog resolution pass pays the same read dozens of times. Entries
    * validate against the file's (modTime, length) stamp on every hit:
    * one metadata stat instead of a content read, and a table directory
    * DELETED AND RECREATED at the same path (spec fixtures, a re-ingested
    * staging dir) can never serve the old table's manifest. Only
    * manifests carrying the schema header cache — a concurrent
    * open-fenced publish ([[HadoopCreateCommitStore]]) can briefly expose
    * a partial file, and caching one would poison every later read of a
    * version that IS eventually complete.
    */
  // LRU bounded by WEIGHT (total manifest bytes), not entry count: a
  // micro-batch table's manifest can run ~10^5 lines (MBs of strings),
  // so a flat entry cap would let a wide t$changes window pin tens of
  // GB on the driver. 256 MB holds thousands of ordinary manifests and
  // a few dozen pathological ones — eviction is size-proportional either
  // way. The byte stamp the validator already carries IS the weight.
  private val ManifestCacheBudgetBytes = 256L * 1024 * 1024
  private object manifestCache {
    private var weight = 0L
    private val m = new java.util.LinkedHashMap[(String, Long), (Long, Long, Seq[String])](
      64, 0.75f, true)
    def get(k: (String, Long)): (Long, Long, Seq[String]) = synchronized(m.get(k))
    def remove(k: (String, Long)): Unit = synchronized {
      val old = m.remove(k); if (old != null) weight -= old._2
    }
    def put(k: (String, Long), v: (Long, Long, Seq[String])): Unit = synchronized {
      val old = m.put(k, v)
      weight += v._2 - (if (old != null) old._2 else 0L)
      val it = m.entrySet().iterator()
      while (weight > ManifestCacheBudgetBytes && it.hasNext) {
        val e = it.next(); weight -= e.getValue._2; it.remove()
      }
    }
  }

  private def manifestLines(
      spark: SparkSession,
      tableDir: String,
      version: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$tableDir/manifest", s"v=$version.txt")
    val key = (tableDir, version)
    val st = scala.util.Try(fs(spark, tableDir).getFileStatus(p)).getOrElse {
      manifestCache.remove(key)
      // let the read path surface the real error (missing file, perms)
      return readSmallFile(spark, p).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    }
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == st.getModificationTime && hit._2 == st.getLen)
      return hit._3
    val lines =
      readSmallFile(spark, p).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (lines.exists(_.startsWith(SchemaHeader)))
      manifestCache.put(key, (st.getModificationTime, st.getLen, lines))
    else
      manifestCache.remove(key)
    lines
  }

  /** Union-by-name: prior columns keep their position, genuinely new
    * columns append in batch order, everything nullable (old files lack
    * the new columns, so the merged schema must admit null). A same-name
    * column changing type is an error — silent coercion would corrupt
    * every reader downstream.
    */
  private def mergeSchemas(
      prior: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.types.StructField]
    prior.fields.foreach(f => out += f.copy(nullable = true))
    next.fields.foreach { f =>
      // the tombstone/former-name guards match CASE-INSENSITIVELY, like
      // Spark's own resolution: a batch re-supplying a dropped column as
      // "STATUS" would otherwise slip past a case-exact check and bind
      // old files' "status" bytes right back
      prior.fields.find(p => p.name.equalsIgnoreCase(f.name)).foreach { p =>
        require(!isDropped(p),
          s"cannot write column '${f.name}': it was dropped and old files " +
            "still carry data under it")
      }
      prior.fields.find(_.name == f.name) match {
        case Some(p) =>
          require(p.dataType.sql == f.dataType.sql,
            s"schema evolution cannot change column '${f.name}' " +
              s"from ${p.dataType.sql} to ${f.dataType.sql}; cast before committing")
        case None =>
          // a renamed column's FORMER physical name is radioactive: old
          // files still carry data under it, so a new column reusing it
          // would silently resurrect that data via by-name resolution
          require(!prior.fields.exists(p => akaNames(p).exists(_.equalsIgnoreCase(f.name))),
            s"cannot add column '${f.name}': it is a former name of column '${
              prior.fields.find(p => akaNames(p).exists(_.equalsIgnoreCase(f.name))).get.name
            }' and old files still carry data under it")
          out += f.copy(nullable = true)
      }
    }
    org.apache.spark.sql.types.StructType(out.toSeq)
  }

  /** Per-directory equi-height histogram resolution: numeric stats
    * columns carry `HistBins+1` quantile edges (percentile_approx in the
    * same single stats aggregate — no extra pass), riding the `#ndv`
    * JSON as an `"e"` array so every carry/re-key path that preserves
    * NDV preserves the histogram for free. At read, the kept dirs' edge
    * sets merge into ONE mixture-CDF equi-height histogram for CBO
    * ([[org.apache.spark.sql.graft.LakePruningScanBuilder.columnStatsFor]])
    * — the layer that prices SKEWED range predicates correctly where
    * min/max-uniform estimation is off by orders of magnitude.
    */
  val HistBins = 32

  /** The per-directory stats aggregates under `groupBy(tag)`, one result
    * row per tag value. This is what keeps `analyzeStats` from submitting
    * one Spark job per directory — the layers are per-directory
    * aggregates, so a grouped pass over the tagged union emits every
    * directory's `#stats`/`#ndv` payload from one job (the driver collect
    * is O(directories in the chunk), manifest-sized by construction).
    */
  private def columnStatsNdvBy(
      df: DataFrame, tag: String, statsCols: Seq[String]): Seq[(String, (String, String))] = {
    val aggs = statsAggExprs(df, statsCols)
    df.groupBy(col(tag)).agg(aggs.head, aggs.tail: _*).collect().toSeq
      .map(row => row.getString(0) -> renderStatsRow(statsCols, row, 1))
  }

  /** One directory's `#stats`/`#ndv` aggregates, 7 per column: min/max
    * (string-cast by Spark, as a reader's literal casts), an HLL sketch,
    * the exact null count, histogram edges, a frequent-values sketch and
    * an exact sum — one-pass mergeable, so they ride the write as observed
    * metrics ([[writeDataDir]]) or a grouped pass ([[columnStatsNdvBy]]).
    * The sketch hashes the STRING form: every legal widen is injective on
    * values, so it keeps estimating across schema evolution.
    */
  private def statsAggExprs(df: DataFrame, statsCols: Seq[String]): Seq[Column] = {
    val missing = statsCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"statsCols not in the batch schema: ${missing.mkString(", ")}")
    val numeric = statsCols.map(c => df.schema.fields
      .find(_.name == c).exists(_.dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType])).toIndexedSeq
    val integral = statsCols.map(c => df.schema.fields
      .find(_.name == c).exists { f =>
        import org.apache.spark.sql.types._
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _                                             => false
        }
      }).toIndexedSeq
    // temporal columns histogram on their Catalyst-internal double domain
    // (dates as epoch days, timestamps as epoch micros) — the domain the
    // read-side range refinement and CBO's own HistogramBin expect
    val histDomain: IndexedSeq[Option[org.apache.spark.sql.Column]] =
      statsCols.map(c => df.schema.fields.find(_.name == c).map(_.dataType).flatMap {
        case _: org.apache.spark.sql.types.NumericType => Some(col(c).cast("double"))
        case org.apache.spark.sql.types.DateType =>
          Some(unix_date(col(c)).cast("double"))
        case org.apache.spark.sql.types.TimestampType =>
          Some(unix_micros(col(c)).cast("double"))
        case _ => None
      }).toIndexedSeq
    // exact per-directory SUMS for integral/decimal stats columns (`"s"`
    // on the #ndv layer): summed in decimal(38, scale) so the partial is
    // EXACT, via try_sum so a 38-digit overflow degrades to "no entry"
    // (the conservatism rule) instead of failing the commit under ANSI.
    // Doubles are excluded — their sum is evaluation-order-dependent, so
    // a stored value could disagree with a scan's. These answer
    // metadata-only SUM (unfiltered, uniform-filtered, grouped).
    val sumDomain: IndexedSeq[Option[org.apache.spark.sql.Column]] =
      statsCols.map(c => df.schema.fields.find(_.name == c).map(_.dataType).flatMap {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
          Some(try_sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("string"))
        case d: org.apache.spark.sql.types.DecimalType if d.scale >= 0 && d.scale <= 18 =>
          Some(try_sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, d.scale)))
            .cast("string"))
        case _ => None
      }).toIndexedSeq
    val qs = (0 to HistBins).map(_.toDouble / HistBins).toArray
    val aggs = statsCols.zipWithIndex.flatMap { case (c, i) => Seq(
      min(col(c)).cast("string"), max(col(c)).cast("string"),
      hll_sketch_agg(col(c).cast("string")),
      count(when(col(c).isNull, 1)),
      // histogram edges for numeric and temporal columns; a typed null
      // placeholder keeps the row layout fixed for the rest
      histDomain(i).map(h => percentile_approx(h, lit(qs), lit(2000)))
        .getOrElse(lit(null).cast("array<double>")),
      // the categorical counterpart: a frequent-values sketch over the
      // stored-string domain (like the HLL and min/max renders) for
      // string AND integral columns — skewed status strings and skewed
      // int codes both price correctly where uniform-over-NDV is off by
      // orders of magnitude. Fractional types are excluded: their
      // cast-to-string renders ("1.5" vs "1.50") don't reliably match a
      // probe literal's toString, and equality on them is rare anyway
      if (numeric(i) && !integral(i)) lit(null).cast("binary")
      else graft.functions.FreqSketch.freqSketchAgg(col(c).cast("string")),
      sumDomain(i).getOrElse(lit(null).cast("string")))
    }
    aggs
  }

  /** Parse one aggregated stats row (7 slots per column, starting at
    * `off` — 0 for a global agg, 1 under a groupBy whose key leads the
    * row) into the (`#stats` json, `#ndv` json) pair.
    */
  private def renderStatsRow(
      statsCols: Seq[String],
      row: org.apache.spark.sql.Row,
      off: Int): (String, String) = {
    import org.json4s.JsonAST._
    val statsObj = JObject(statsCols.zipWithIndex.map { case (c, i) =>
      def v(j: Int): JValue =
        if (row.isNullAt(j)) JNull else JString(row.getString(j))
      c -> (JArray(List(v(off + 7 * i), v(off + 7 * i + 1))): JValue)
    }.toList)
    val ndvObj = JObject(statsCols.zipWithIndex.map { case (c, i) =>
      val h: JValue =
        if (row.isNullAt(off + 7 * i + 2)) JNull
        else JString(java.util.Base64.getEncoder.encodeToString(
          row.getAs[Array[Byte]](off + 7 * i + 2)))
      val base = List(
        "h" -> h, "n" -> (JInt(row.getLong(off + 7 * i + 3)): JValue))
      val edges =
        if (row.isNullAt(off + 7 * i + 4)) Nil
        else row.getSeq[Double](off + 7 * i + 4) match {
          case es if es != null && es.nonEmpty && es.forall(e =>
            !java.lang.Double.isNaN(e) && !java.lang.Double.isInfinite(e)) =>
            List("e" -> (JArray(es.map(JDouble(_): JValue).toList): JValue))
          case _ => Nil
        }
      val freq =
        if (row.isNullAt(off + 7 * i + 5)) Nil
        else List("f" -> (JString(java.util.Base64.getEncoder.encodeToString(
          row.getAs[Array[Byte]](off + 7 * i + 5))): JValue))
      // an absent "s" with non-null rows present = refused (overflow or
      // unsummable type); an all-null dir ALSO omits it — consumers
      // disambiguate via the exact null count (n == rows)
      val sums =
        if (row.isNullAt(off + 7 * i + 6)) Nil
        else List("s" -> (JString(row.getString(off + 7 * i + 6)): JValue))
      c -> (JObject(base ++ edges ++ freq ++ sums): JValue)
    }.toList)
    def render(o: JObject) =
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(o))
    (render(statsObj), render(ndvObj))
  }

  /** Kirsch–Mitzenmacher double hashing: k bit positions for one value as
    * `(h1 + i*h2) mod bits`, with both base hashes computed by Spark's own
    * codegen'd xxhash64 — the same expression builds the filter
    * distributed at commit time and probes it for a literal at read time,
    * so writer and reader can never disagree on the hash.
    */
  private def bloomPositions(c: Column, bits: Int, k: Int): Column = {
    // reduce each base hash mod bits BEFORE combining: identical positions
    // ((a+i·b) mod m ≡ ((a mod m)+i·(b mod m)) mod m) and the arithmetic
    // stays far from Long overflow under ANSI mode (bits ≤ 2^30, i ≤ 16)
    val m = lit(bits.toLong)
    val h1 = pmod(xxhash64(c), m)
    val h2 = pmod(xxhash64(c, lit(0x9e3779b97f4a7c15L)), m)
    array((0 until k).map(i => pmod(h1 + lit(i.toLong) * h2, m)): _*)
  }

  /** Build the batch's Bloom filters: one distributed distinct-positions
    * pass per column (the shuffle carries bit POSITIONS, capped at `bits`
    * values regardless of batch size — the driver collect is bounded by
    * the filter's own capacity, never by the data). Nulls are skipped:
    * point-equality never matches null, so they need no representation.
    */
  private def bloomJson(df: DataFrame, cfg: Option[BloomConfig]): Option[String] = {
    val c = cfg.getOrElse(return None)
    if (c.cols.isEmpty) return None
    val missing = c.cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"bloom cols not in the batch schema: ${missing.mkString(", ")}")
    import org.json4s.JsonAST._
    // ONE distributed pass for ALL bloom columns (was: one job per
    // column): tag each column's positions, union, distinct — the
    // shuffle/collect stays bounded at cols × bits positions
    val posByCol = c.cols.toList.map { name =>
      df.filter(col(name).isNotNull)
        .select(lit(name).as("_graft_bc"),
          explode(bloomPositions(col(name), c.bits, c.k)).as("p"))
    }.reduce(_.union(_)).distinct().collect()
      .groupBy(_.getString(0))
      .map { case (name, rows) => name -> rows.map(_.getLong(1).toInt) }
    val obj = JObject(c.cols.toList.map { name =>
      val bytes = new Array[Byte](c.bits / 8)
      posByCol.getOrElse(name, Array.empty[Int]).foreach { p =>
        bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte
      }
      name -> (JObject(List(
        "m" -> (JInt(c.bits): JValue),
        "k" -> (JInt(c.k): JValue),
        "b" -> (JString(java.util.Base64.getEncoder.encodeToString(bytes)): JValue))): JValue)
    })
    Some(org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(obj)))
  }

  /** Per-directory Bloom filters a version's manifest carries:
    * dir -> col -> (bits, k, filter bytes).
    */
  def dirBlooms(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, (Int, Int, Array[Byte])]] = {
    import org.json4s.JsonAST._
    dirLayer(spark, tableDir, version, BloomHeader).map { case (d, json) =>
      d -> (org.json4s.jackson.JsonMethods.parse(json) match {
        case JObject(fields) => fields.collect {
          case (c, JObject(props)) =>
            val m = props.toMap
            (m.get("m"), m.get("k"), m.get("b")) match {
              case (Some(JInt(bits)), Some(JInt(k)), Some(JString(b64))) =>
                Some(c -> ((bits.toInt, k.toInt, java.util.Base64.getDecoder.decode(b64))))
              case _ => None
            }
        }.flatten.toMap
        case _ => Map.empty[String, (Int, Int, Array[Byte])]
      })
    }
  }

  /** A layer payload without columns: an empty JSON object, which says
    * nothing a missing line does not, so [[publishManifest]] writes no
    * line for it.
    */
  private val NoLayer = "{}"

  /** One layer of a version's manifest as key -> raw payload: the
    * `<header><dir>\t<payload>` lines of a per-directory layer (`#stats`,
    * `#bloom`, `#ndv`, `#rows`, `#parts`), or the `#txn` watermarks keyed
    * by appId. Lines without a tab are skipped.
    */
  private def dirLayer(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      header: String): Map[String, String] =
    manifestLines(spark, tableDir, version).flatMap(layerEntry(_, header)).toMap

  /** `<header><key>\t<payload>` split into (key, payload); None for a line
    * of another header or without a tab. The one parser of that shape.
    */
  private def layerEntry(line: String, header: String): Option[(String, String)] =
    if (!line.startsWith(header)) None
    else {
      val tab = line.indexOf('\t', header.length)
      if (tab < 0) None else Some(line.substring(header.length, tab) -> line.substring(tab + 1))
    }

  /** The payload of a one-line header (`#schema=`, `#op=`, `#declspec=`,
    * `#changes=`) at `version`, when its manifest has that line.
    */
  private def headerValue(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      header: String): Option[String] =
    manifestLines(spark, tableDir, version).find(_.startsWith(header))
      .map(_.substring(header.length))

  /** The `#ndv` layer parsed once for its four readers: dir -> col -> the
    * entry's fields. Lenient: a malformed line degrades to "no column
    * statistics" for that directory, never a failed read.
    */
  private def ndvEntries(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, Map[String, org.json4s.JsonAST.JValue]]] = {
    import org.json4s.JsonAST._
    dirLayer(spark, tableDir, version, NdvHeader).flatMap { case (d, json) =>
      scala.util.Try(org.json4s.jackson.JsonMethods.parse(json)).toOption.map {
        case JObject(fields) =>
          d -> fields.collect { case (c, JObject(entry)) => c -> entry.toMap }.toMap
        case _ => d -> Map.empty[String, Map[String, JValue]]
      }
    }
  }

  /** Per-directory NDV layer a version's manifest carries:
    * dir -> col -> (HLL sketch bytes — None for an all-null directory —
    * and the exact null count). Lenient like [[ndvEntries]].
    */
  def dirNdv(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, (Option[Array[Byte]], Long)]] = {
    import org.json4s.JsonAST._
    ndvEntries(spark, tableDir, version).map { case (d, cols) =>
      d -> cols.map { case (c, m) =>
        val h = m.get("h").collect { case JString(b) => java.util.Base64.getDecoder.decode(b) }
        c -> ((h, m.get("n").collect { case JInt(v) => v.toLong }.getOrElse(0L)))
      }
    }
  }

  /** Per-directory equi-height histogram EDGES a version's manifest
    * carries (the `"e"` arrays riding the `#ndv` layer): dir -> col ->
    * ascending quantile edges ([[HistBins]]+1 doubles, numeric columns
    * only). Absence or malformation degrades to "no histogram".
    */
  def dirHist(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, Array[Double]]] = {
    import org.json4s.JsonAST._
    ndvEntries(spark, tableDir, version).map { case (d, cols) =>
      d -> cols.flatMap { case (c, m) =>
        m.get("e").collect { case JArray(vs) => c -> vs.collect { case JDouble(e) => e }.toArray }
      }
        // a written edge set is always exactly HistBins+1 doubles; a
        // shorter array means elements were dropped or re-typed, and
        // consuming the remnant would feed a mass-distorted histogram
        // to CBO — degrade to "no histogram", the conservatism rule
        .filter(_._2.length == HistBins + 1)
    }
  }

  /** Per-directory FREQUENT-VALUES sketches a version's manifest carries
    * (the `"f"` entries riding the `#ndv` layer): dir -> col -> serialized
    * frequent-items sketch (non-numeric stats columns only). Absence or
    * malformation degrades to "no sketch" — the consumer
    * ([[org.apache.spark.sql.graft.LakePruningScanBuilder]]'s
    * equality-selectivity refinement) then stands down to the plain
    * row-sum estimate, never a distorted one.
    */
  def dirFreq(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, Array[Byte]]] = {
    import org.json4s.JsonAST._
    ndvEntries(spark, tableDir, version).map { case (d, cols) =>
      d -> cols.flatMap { case (c, m) =>
        m.get("f").collect { case JString(b64) =>
          scala.util.Try(c -> java.util.Base64.getDecoder.decode(b64)).toOption
        }.flatten
      }
    }
  }

  /** Per-directory EXACT SUMS a version's manifest carries (the `"s"`
    * entries riding the `#ndv` layer): dir -> col -> exact decimal sum
    * of the directory's non-null values (integral and bounded-scale
    * decimal stats columns only — see statsAggExprs). Absence means
    * refused/legacy/all-null; consumers disambiguate all-null via the
    * layer's exact null counts.
    */
  def dirSums(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, java.math.BigDecimal]] = {
    import org.json4s.JsonAST._
    ndvEntries(spark, tableDir, version).map { case (d, cols) =>
      d -> cols.flatMap { case (c, m) =>
        m.get("s").collect { case JString(s) =>
          scala.util.Try(c -> new java.math.BigDecimal(s)).toOption
        }.flatten
      }
    }
  }

  /** Union a set of per-directory HLL sketches into one distinct-count
    * estimate (DataSketches union — the mergeability that makes
    * per-directory sketches a TABLE statistic). `None` sketches (all-null
    * directories) contribute nothing. Driver-side, O(sketches), a few KB
    * each — planning-time metadata work.
    */
  def ndvEstimate(sketches: Seq[Option[Array[Byte]]]): Long = {
    val u = new org.apache.datasketches.hll.Union(12)
    sketches.foreach(_.foreach { bytes =>
      u.update(org.apache.datasketches.hll.HllSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(bytes)))
    })
    math.round(u.getResult.getEstimate)
  }

  /** Per-directory stats a version's manifest carries:
    * dir -> col -> (min, max) as stored (Spark string-casts), None =
    * all-null. Compare them only through [[LakeMetaAgg.bounds]].
    */
  def dirStats(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Map[String, (Option[String], Option[String])]] = {
    import org.json4s.JsonAST._
    dirLayer(spark, tableDir, version, StatsHeader).map { case (d, json) =>
      d -> (org.json4s.jackson.JsonMethods.parse(json) match {
        case JObject(fields) => fields.collect {
          case (c, JArray(List(mn, mx))) =>
            def s(j: JValue): Option[String] = j match {
              case JString(x) => Some(x)
              case _          => None
            }
            c -> (s(mn), s(mx))
        }.toMap
        case _ => Map.empty[String, (Option[String], Option[String])]
      })
    }
  }

  /** Per-directory EXACT (row count, data bytes) a version's manifest
    * carries. Directories without a `#rows` line (pre-rows manifests)
    * are absent from the map — callers needing totals must check
    * coverage before trusting a sum.
    */
  def dirRowCounts(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, (Long, Long)] = {
    import org.json4s.JsonAST._
    dirLayer(spark, tableDir, version, RowsHeader).flatMap { case (d, json) =>
      scala.util.Try(org.json4s.jackson.JsonMethods.parse(json)).toOption.flatMap {
        case JObject(fields) =>
          val m = fields.toMap
          (m.get("n"), m.get("bytes")) match {
            case (Some(JInt(n)), Some(JInt(b))) => Some(d -> ((n.toLong, b.toLong)))
            case _                              => None
          }
        case _ => None
      }
    }
  }

  /** Per-directory hive-partition column chains a version's manifest
    * carries: dir -> columns in layout order. Directories without a line
    * are unpartitioned (or predate the header).
    */
  def dirParts(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Seq[String]] =
    dirLayer(spark, tableDir, version, PartsHeader).flatMap { case (d, json) =>
      stringArray(json).map(d -> _)
    }

  /** The version's DECLARED partition spec, when one was ever set
    * ([[setPartitionSpec]]): the hive layout new batches must follow,
    * independent of what the newest directory happens to render.
    * `Some(Nil)` is a real answer — declared unpartitioned. `None` =
    * never declared, callers fall back to the physical chain.
    */
  def declaredSpec(
      spark: SparkSession,
      tableDir: String,
      version: Long): Option[Seq[String]] =
    headerValue(spark, tableDir, version, DeclSpecHeader).flatMap(stringArray)

  /** A JSON array's string elements; None when `json` is not an array. */
  private def stringArray(json: String): Option[Seq[String]] = {
    import org.json4s.JsonAST._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(json)).toOption.collect {
      case JArray(vs) => vs.collect { case JString(c) => c }
    }
  }

  private def stringArrayJson(cols: Seq[String]): String = {
    import org.json4s.JsonAST._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      JArray(cols.map(JString(_): JValue).toList)))
  }

  /** `header`'s layer at `version` with each payload's column keys mapped
    * by `rename` — None drops the entry, and a payload left without one
    * becomes [[NoLayer]]: the re-keyed layers of the metadata-only DDL.
    * A payload that is not a JSON object stays as is.
    */
  private def rekeyLayer(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      header: String)(rename: String => Option[String]): Map[String, String] = {
    import org.json4s.JsonAST._
    dirLayer(spark, tableDir, version, header).map { case (d, json) =>
      d -> (org.json4s.jackson.JsonMethods.parse(json) match {
        case JObject(fields) =>
          org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
            JObject(fields.flatMap { case (c, v) => rename(c).map(_ -> v) })))
        case _ => json
      })
    }
  }

  /** (distinct partition specs, dir count) over the version's NON-EMPTY
    * directories. Zero-row directories are invisible: they hold no data
    * a per-spec read would have to treat differently — without this,
    * TRUNCATE's flat empty snapshot dir + the first partitioned INSERT
    * reads as "mixed" until an OPTIMIZE drops the empty dir, routing
    * every read through the stats-blind V1 bridge permanently. Dirs
    * without a rows line (legacy manifests) count as non-empty.
    */
  private def livePartSpecs(
      spark: SparkSession,
      tableDir: String,
      version: Long): (Seq[Seq[String]], Int) = {
    val specs = dirParts(spark, tableDir, version)
    val rows = dirRowCounts(spark, tableDir, version)
    val live = manifest(spark, tableDir, version)
      .filter(d => rows.get(d).forall(_._1 > 0))
    (live.map(d => specs.getOrElse(d, Nil)).distinct, live.size)
  }

  /** Whether the version needs the per-directory union read rather than
    * ONE multi-root parquet scan. Two shapes force it: mixed specs (flat
    * + hive dirs cannot share a scan), and MULTIPLE hive-partitioned
    * roots — Spark's partition discovery cannot bridge the uuid level
    * between the table's data root and each dir's k=v chain, with or
    * without `basePath` (verified against 4.1; [[readDirs]] documents
    * the same). All-flat versions (any count) and single-dir partitioned
    * versions scan stock. Zero-row directories are invisible here: they
    * hold nothing a scan needs, and counting them would route a
    * just-truncated table through the stats-blind bridge forever.
    */
  def needsPerDirRead(
      spark: SparkSession,
      tableDir: String,
      version: Long): Boolean = {
    val (distinct, liveCount) = livePartSpecs(spark, tableDir, version)
    distinct.sizeIs > 1 ||
      (distinct.headOption.exists(_.nonEmpty) && liveCount > 1)
  }

  /** The operation that produced a version, when its manifest records
    * one (manifests predating the op header yield None).
    */
  def commitOp(spark: SparkSession, tableDir: String, version: Long): Option[String] =
    headerValue(spark, tableDir, version, OpHeader).map(_.trim)

  /** The version's row-level change artifact (see [[ChangesHeader]]),
    * when its commit published one.
    */
  def changesArtifact(
      spark: SparkSession,
      tableDir: String,
      version: Long): Option[String] =
    headerValue(spark, tableDir, version, ChangesHeader).map(_.trim).filter(_.nonEmpty)

  /** Write one commit's change artifact: `(data columns...,
    * _change_type)` parquet under `changes/`. Written BEFORE the
    * manifest publish, like data directories — a crash (or a lost
    * publish race) strands only an unreferenced artifact for vacuum.
    * Always written by the copy-on-write paths, even when the commit
    * matched nothing: the line's presence is what lets the change feed
    * distinguish "no rows changed" from "a legacy rewrite whose delta
    * is unreconstructible".
    */
  private def writeChangesDir(df: DataFrame, tableDir: String): String = {
    val name = java.util.UUID.randomUUID().toString
    df.write.mode("error").parquet(s"$tableDir/changes/$name")
    name
  }

  /** Exact (rows, bytes) of one data directory, from file listing + the
    * parquet footers the write already produced. Driver-side and
    * O(files in the directory) — called once per NEW directory at
    * publish time (carried forward verbatim afterwards), so a commit
    * pays footer reads for its own delta only, never the table.
    */
  private def dirRowMeta(
      spark: SparkSession,
      tableDir: String,
      d: String): Option[(Long, Long)] = scala.util.Try {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$tableDir/data/$d")
    val f = root.getFileSystem(conf)
    var rows = 0L
    var bytes = 0L
    val it = f.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        bytes += st.getLen
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(conf, st.getPath)
        try rows += r.getRecordCount
        finally r.close()
      }
    }
    (rows, bytes)
  }.toOption

  private def rowsJson(rows: Long, bytes: Long): String = {
    import org.json4s.JsonAST._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(List(
        "n" -> (JInt(rows): JValue),
        "bytes" -> (JInt(bytes): JValue)))))
  }

  /** Pending merge-on-read equality deletes a version's manifest carries,
    * in publish order. STRICT parse: a malformed eqdelete line is data
    * loss if ignored (deleted rows would resurrect), so it fails the read
    * instead of degrading.
    */
  def dirEqDeletes(
      spark: SparkSession,
      tableDir: String,
      version: Long): Seq[EqDelete] = {
    import org.json4s.JsonAST._
    manifestLines(spark, tableDir, version)
      .filter(_.startsWith(EqDeleteHeader))
      .map { line =>
        def malformed = s"malformed eqdelete manifest line in $tableDir v=$version: $line"
        val entry = layerEntry(line, EqDeleteHeader).filter(_._1.nonEmpty)
        require(entry.isDefined, malformed)
        val (dir, json) = entry.get
        org.json4s.jackson.JsonMethods.parse(json) match {
          case JObject(fields) =>
            val m = fields.toMap
            (m.get("keys"), m.get("dirs")) match {
              case (Some(JArray(ks)), Some(JArray(ds))) =>
                val cnt = m.get("cnt") match {
                  case Some(JObject(cs)) => cs.collect {
                    case (d, JInt(n)) => d -> n.toLong
                  }.toMap
                  case _ => Map.empty[String, Long]
                }
                EqDelete(dir,
                  ks.collect { case JString(s) => s },
                  ds.collect { case JString(s) => s }, cnt)
              case _ => sys.error(malformed)
            }
          case _ => sys.error(malformed)
        }
      }
  }

  /** Per-writer transaction watermarks a version's manifest carries:
    * appId -> highest committed batchId.
    */
  def txnWatermarks(
      spark: SparkSession,
      tableDir: String,
      version: Long): Map[String, Long] =
    dirLayer(spark, tableDir, version, TxnHeader).flatMap { case (app, b) =>
      b.toLongOption.map(app -> _)
    }

  /** The exactly-once gate of every `txn`-taking commit: whether the
    * writer's batch is at or below its watermark in `version`.
    */
  private def alreadyCommitted(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, b) => txnWatermarks(spark, tableDir, version).get(app).exists(_ >= b) }

  /** One written data directory: its name, its row count, and its
    * `#stats`/`#ndv` payload (None without stats columns).
    */
  private final case class Written(dir: String, rows: Long, stats: Option[(String, String)]) {
    def statsBy: Map[String, String] = stats.map { case (s, _) => dir -> s }.toMap
    def ndvBy: Map[String, String] = stats.map { case (_, n) => dir -> n }.toMap
  }

  /** Write `df` into one fresh immutable data directory. With `zorderBy`,
    * rows are clustered on the interleaved Z-curve key
    * ([[Lake.withZorderKey]]): unpartitioned tables range-partition on the
    * key first, so files cover DISJOINT Z-ranges and parquet footer stats
    * prune on every clustered dimension, not just a leading sort column.
    * The row count and `statsCols` aggregates ([[statsAggExprs]]) are
    * observed metrics of the written frame, computed by the write job's
    * result stage (after any shuffle: a re-run map stage counts nothing twice).
    * A listener that this write registers and removes reads them; Spark's
    * `Observation` would leave its own listener on the session for good,
    * and that one logs an error trace for every later failed statement.
    */
  private def writeDataDir(
      df: DataFrame,
      tableDir: String,
      parts: Seq[String],
      maxRecordsPerFile: Long,
      zorderBy: Seq[String] = Nil,
      sortWithin: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Written = {
    val name = java.util.UUID.randomUUID().toString
    val keyed = if (zorderBy.isEmpty) df else Lake.withZorderKey(df, zorderBy)
    val shaped =
      if (parts.nonEmpty)
        keyed.repartition(parts.map(col): _*)
      else if (zorderBy.nonEmpty)
        keyed.repartitionByRange(col(Lake.ZKey))
      else keyed
    val sorted =
      if (zorderBy.nonEmpty)
        shaped.sortWithinPartitions((parts.map(col) :+ col(Lake.ZKey)): _*)
      else if (sortWithin.nonEmpty)
        // clustered layout INSIDE each partition directory's files: the
        // sort runs after the partition shuffle (prefixed by the
        // partition columns so multiple hive values sharing a task stay
        // contiguous), so every written file is ordered by `sortWithin`
        // and parquet row-group min/max prune on it — the term-clustered
        // postings contract
        shaped.sortWithinPartitions((parts ++ sortWithin).map(col): _*)
      else shaped
    val out = sorted.drop(Lake.ZKey)
    val metricsName = s"graft_write_$name"
    val metrics = (count(lit(1)) +: statsAggExprs(out, statsCols)).zipWithIndex
      .map { case (m, i) => m.as(s"_m$i") }
    val writer0 = out.observe(metricsName, metrics.head, metrics.tail: _*)
      .write.mode("error").option("maxRecordsPerFile", maxRecordsPerFile)
    val writer = if (parts.nonEmpty) writer0.partitionBy(parts: _*) else writer0
    val observed = scala.concurrent.Promise[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(metricsName).foreach(observed.trySuccess)
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val listeners = df.sparkSession.listenerManager
    listeners.register(listener)
    val row =
      try {
        writer.parquet(s"$tableDir/data/$name")
        // the metrics arrive through the listener bus, within milliseconds
        scala.concurrent.Await.result(observed.future,
          scala.concurrent.duration.Duration(5, "min"))
      } finally listeners.unregister(listener)
    Written(name, row.getLong(0),
      if (statsCols.isEmpty) None else Some(renderStatsRow(statsCols, row, 1)))
  }

  /** [[writeDataDir]] for frames that may be EMPTY (a CoW rewrite whose
    * directory lost every row): write, then read the observed row count;
    * an empty result deletes the directory and reports None. Deciding
    * after the write costs no extra query execution.
    */
  private def writeDataDirNonEmpty(
      df: DataFrame,
      tableDir: String,
      parts: Seq[String],
      maxRecordsPerFile: Long,
      sortWithin: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Option[Written] = {
    val w = writeDataDir(df, tableDir, parts, maxRecordsPerFile, sortWithin = sortWithin,
      statsCols = statsCols)
    if (w.rows > 0L) Some(w)
    else {
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/data/${w.dir}")
      scala.util.Try(
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)): Unit
      None
    }
  }

  /** Publish a manifest as the NEXT version via optimistic concurrency:
    * the version number is claimed create-exclusively, so of two
    * committers that both based on v=N exactly one wins v=N+1 — the other
    * gets [[CommitConflictException]] and must re-read and re-base (its
    * data directories are already durable and reusable). With
    * `expectedBase` set, the publish additionally fails fast when the
    * table has moved past the version the caller's READS were based on —
    * the read-modify-write committers ([[upsert]], [[optimize]]) need
    * that, or a retry would clobber the concurrent commit it conflicted
    * with.
    *
    * THE CARRY RULE — this is the only code that carries a manifest
    * forward. Data directories are immutable, so their metadata is too:
    * for every directory that both the base (the current version) and
    * `dirs` list, each per-directory layer line (`#stats`, `#bloom`,
    * `#ndv`, `#rows`, `#parts`) is copied verbatim from the base. The
    * base's `#declspec` and `#txn` watermarks carry as well. Callers
    * pass only what they change:
    *   - `stats`/`blooms`/`ndv`: payloads of new directories, or a
    *     replacement for a kept directory's line (the re-keyed or
    *     recomputed layers of [[renameColumn]], [[dropColumn]],
    *     [[widenColumn]], [[analyzeStats]], [[rollback]]). A replacement
    *     that is an empty object, [[NoLayer]], writes no line.
    *   - `txn`: the caller's own `(appId, batchId)` watermark.
    *   - `declSpec`: `Some(Some(cols))` declares a spec, `Some(None)`
    *     drops the declaration (a rollback to a never-declared version).
    * A directory new to the manifest gets its `#rows` line from its
    * footers and its `#parts` line from its `k=v` layout, so every
    * commit pays for its own delta only. Pending deletes (`eqdeletes`)
    * are NOT carried: each caller restates the ones it keeps.
    */
  private[graft] def publishManifest(
      spark: SparkSession,
      tableDir: String,
      dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      stats: Map[String, String] = Map.empty,
      blooms: Map[String, String] = Map.empty,
      expectedBase: Option[Option[Long]] = None,
      txn: Option[(String, Long)] = None,
      eqdeletes: Seq[EqDelete] = Nil,
      op: String = "commit",
      changes: Option[String] = None,
      ndv: Map[String, String] = Map.empty,
      declSpec: Option[Option[Seq[String]]] = None): Long = {
    val cur = currentVersion(spark, tableDir)
    expectedBase.foreach { exp =>
      if (cur != exp)
        throw new CommitConflictException(
          s"$tableDir moved to ${cur.getOrElse(-1L)} since this commit read " +
            s"${exp.getOrElse(-1L)}; re-read and re-base")
    }
    val next = cur.getOrElse(-1L) + 1
    // one layer's lines: the caller's payload, else the base's line
    // verbatim, else (rows, parts) what a new directory's files say
    def layerLines(header: String, given: Map[String, String])(
        fresh: String => Option[String]): Seq[String] = {
      val carried = cur.map(v => dirLayer(spark, tableDir, v, header)).getOrElse(Map.empty)
      dirs.flatMap { d =>
        given.get(d).orElse(carried.get(d)).orElse(fresh(d))
          .filter(_ != NoLayer).map(j => s"$header$d\t$j")
      }
    }
    val rowsLines = layerLines(RowsHeader, Map.empty)(d =>
      dirRowMeta(spark, tableDir, d).map { case (n, b) => rowsJson(n, b) })
    // only partitioned dirs write a line; absence = flat. A walk failure
    // MUST fail the commit: swallowing it would permanently record a
    // partitioned directory as flat, mis-steering every later mixed-spec
    // read of this version — the transient FS error is the recoverable one
    val partsLines = layerLines(PartsHeader, Map.empty)(d =>
      Some(partitionColsOf(spark, tableDir, d)).filter(_.nonEmpty).map(stringArrayJson))
    val statsLines = layerLines(StatsHeader, stats)(_ => None)
    val bloomLines = layerLines(BloomHeader, blooms)(_ => None)
    val ndvLines = layerLines(NdvHeader, ndv)(_ => None)
    val txnLines = (cur.map(v => txnWatermarks(spark, tableDir, v)).getOrElse(Map.empty) ++ txn)
      .toSeq.sortBy(_._1).map { case (app, b) => s"$TxnHeader$app\t$b" }
    // a delete's scope shrinks to the directories still published; a line
    // whose every target directory is gone (rewritten/compacted away) has
    // nothing left to apply to and drops
    val eqLines = eqdeletes
      .map(e => e.copy(dirs = e.dirs.filter(dirs.contains)))
      .filter(_.dirs.nonEmpty)
      .map { e =>
        import org.json4s.JsonAST._
        // counts shrink with the scope: a rewritten-away dir's physical
        // rows are gone, so its deleted-count must not survive either
        val cnt = e.counts.filter { case (d, _) => e.dirs.contains(d) }
        val fields = List(
          "keys" -> (JArray(e.keys.map(JString(_): JValue).toList): JValue),
          "dirs" -> (JArray(e.dirs.map(JString(_): JValue).toList): JValue)) ++
          (if (cnt.isEmpty) Nil
           else List("cnt" -> (JObject(cnt.toList.sortBy(_._1).map { case (d, n) =>
             d -> (JInt(n): JValue)
           }): JValue)))
        val j = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(JObject(fields)))
        s"$EqDeleteHeader${e.dir}\t$j"
      }
    val changesLines = changes.map(c => s"$ChangesHeader$c").toSeq
    val declLine = declSpec
      .fold(cur.flatMap(v => headerValue(spark, tableDir, v, DeclSpecHeader)))(
        _.map(stringArrayJson))
      .map(j => s"$DeclSpecHeader$j").toSeq
    val body = (SchemaHeader + schema.json) +: (OpHeader + op) +:
      (declLine ++ rowsLines ++ partsLines ++ statsLines ++ bloomLines ++ ndvLines ++
        txnLines ++ eqLines ++ changesLines ++ dirs)
    // inside a LakeAtomicTxn: register the intended publish and stop — the
    // transaction claims every table's slot, writes the one decision
    // file, and finalizes (see [[LakeAtomicTxn.commitAll]])
    LakeAtomicTxn.staging.get() match {
      case null => ()
      case st =>
        st.register(tableDir, next, body.mkString("\n"))
        return next
    }
    claimManifestSlot(spark, tableDir, next, body.mkString("\n"))
    // pointer is a forward-only hint; the manifest listing is authoritative
    atomicWrite(spark, tableDir, Pointer, next.toString)
    next
  }

  /** Claim `v=$next.txt` exclusively with `content`, healing dead
    * claims in the way: zero-length open-fence orphans (crashed between
    * create and close) stale beyond the grace window delete and
    * re-claim, and [[LakeAtomicTxn]] PENDING manifests resolve through their
    * decision file — committed → finalize it and keep conflicting (the
    * caller's retry loop re-bases onto it), aborted → delete and
    * re-claim, undecided-but-stale → race an `abort` decision
    * (createExclusive, so a slow coordinator cannot commit after the
    * heal) and re-claim, undecided-fresh → rethrow (in-flight txn keeps
    * its fence).
    */
  private[sources] def claimManifestSlot(
      spark: SparkSession,
      tableDir: String,
      next: Long,
      content: String): Unit =
    try createExclusive(spark, s"$tableDir/manifest", s"v=$next.txt", content)
    catch {
      case e: CommitConflictException =>
        val mp = new org.apache.hadoop.fs.Path(s"$tableDir/manifest", s"v=$next.txt")
        val healed = scala.util.Try {
          val st = fs(spark, tableDir).getFileStatus(mp)
          if (st.getLen == 0)
            System.currentTimeMillis() - st.getModificationTime > OrphanManifestGraceMs &&
              fs(spark, tableDir).delete(mp, false)
          else txn2pcDecisionPath(spark, tableDir, next) match {
            case None => false // a real published manifest: genuine conflict
            case Some(dp) => txn2pcDecision(spark, tableDir, dp) match {
              case Some("commit") =>
                LakeAtomicTxn.finalizePending(spark, tableDir, next)
                false // committed: the slot is genuinely taken, re-base
              case Some(_) => // aborted: dead claim, reclaimable
                fs(spark, tableDir).delete(mp, false)
              case None
                  if System.currentTimeMillis() - st.getModificationTime >
                    OrphanManifestGraceMs =>
                // undecided and stale: kill the txn by racing its
                // decision slot; whoever wins the createExclusive decides.
                // A coordinator that crashed INSIDE its decision create
                // leaves a ZERO-LENGTH decision file — txn2pcDecision
                // reads it as undecided, but it would conflict the abort
                // create forever; heal it like any crashed fence first
                // (same staleness bar, so a live coordinator mid-create
                // keeps its fence).
                try {
                  val dpath = new org.apache.hadoop.fs.Path(dp)
                  scala.util.Try {
                    val dst = fs(spark, tableDir).getFileStatus(dpath)
                    if (dst.getLen == 0 &&
                      System.currentTimeMillis() - dst.getModificationTime >
                        OrphanManifestGraceMs)
                      fs(spark, tableDir).delete(dpath, false): Unit
                  }: Unit
                  val slash = dp.lastIndexOf('/')
                  createExclusive(spark, dp.substring(0, slash),
                    dp.substring(slash + 1), "abort")
                  fs(spark, tableDir).delete(mp, false)
                } catch {
                  case _: CommitConflictException =>
                    // the coordinator (or another healer) decided first;
                    // act on whatever the decision says next retry
                    false
                }
              case None => false // in-flight txn keeps its fence
            }
          }
        }.getOrElse(false)
        if (!healed) throw e
        // the healed slot's old bytes may be memoized under a colliding
        // (mtime, length) stamp — drop the entry before re-claiming
        manifestCache.remove((tableDir, next))
        createExclusive(spark, s"$tableDir/manifest", s"v=$next.txt", content)
    }

  /** Bounded conflict-retry loop for committers whose re-base is cheap
    * (re-reading the prior manifest, not re-writing data). Attempts are
    * bounded so a livelocked writer surfaces instead of spinning.
    */
  /** Run `f` under a thread-local Spark job description so the
    * multi-job write paths attribute their phases in listener/UI output
    * (optimization guide: label your jobs); restores the previous
    * description after. Pure metadata — nanoseconds per call.
    */
  private[graft] def phase[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f
    finally sc.setJobDescription(prev)
  }

  /** Run independent commit-phase tasks CONCURRENTLY from a small,
    * per-call thread pool (optimization guide §2.6: actions are only
    * sequential because driver code calls them sequentially — a write
    * commit's CDC artifact, appended-batch, per-directory rewrites and
    * stats aggregations have no data dependencies, so running them
    * serially leaves the cluster idle during each one's driver phase and
    * tail). Results return in task order; the first failure rethrows
    * after the pool drains (no half-submitted background work escapes
    * the commit's try/catch). Each task runs under its own job
    * description. Single-task lists run inline — zero thread overhead
    * for the common one-directory commit.
    */
  private[graft] def inParallel[A](
      spark: SparkSession,
      tasks: Seq[(String, () => A)],
      maxConcurrent: Int = 4): Seq[A] = {
    if (tasks.isEmpty) return Nil
    if (tasks.size == 1) return Seq(phase(spark, tasks.head._1)(tasks.head._2()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, maxConcurrent))
    try {
      val futures = tasks.map { case (label, f) =>
        pool.submit(new java.util.concurrent.Callable[A] {
          override def call(): A = phase(spark, label)(f())
        })
      }
      // await EVERY task before returning or rethrowing: a failed phase
      // must not leave a straggler task still writing files while the
      // exception propagates into retryOnConflict (a directory/txn-log
      // race under the commit-retry path). First failure wins, unwrapped.
      var firstFailure: Throwable = null
      val results = futures.map { fu =>
        try Some(fu.get())
        catch {
          case e: Throwable =>
            val cause = e match {
              case ee: java.util.concurrent.ExecutionException =>
                Option(ee.getCause).getOrElse(ee)
              case other => other
            }
            if (firstFailure == null) firstFailure = cause
            None
        }
      }
      if (firstFailure != null) throw firstFailure
      results.map(_.get)
    } finally pool.shutdown()
  }

  /** Await handle for a background refusal probe: `apply()` awaits and
    * rethrows the probe's own exception (the success path, called from
    * `preWriteGate` before the first side effect); `settle()` cancels a
    * probe still running, then awaits and swallows the outcome — for
    * FAILURE paths, where the primary error is already propagating, the
    * probe's verdict no longer matters, and the command's `finally` is
    * about to unpersist the frames the probe's Spark job reads.
    */
  private[graft] sealed trait Gate[A] extends (() => A) {
    def settle(): Unit
  }

  /** No-op [[upsert]] `preWriteGate`. */
  private[graft] val NoGate: Gate[Unit] = new Gate[Unit] {
    override def apply(): Unit = ()
    override def settle(): Unit = ()
  }

  /** Start `f` on a background thread NOW and return an await handle that
    * rethrows `f`'s own exception (not the ExecutionException wrapper).
    * For READ-ONLY refusal probes (SQL MERGE's dup/null-key gates) that
    * must complete before a write's first side effect but need not
    * complete before the write's own read-only phases — the await handle
    * rides [[upsert]]'s `preWriteGate` so the probe overlaps the key-range
    * aggregation, manifest reads and rewrite-probe planning (guide §2.6)
    * instead of serializing ahead of them. The probe's jobs run in their
    * own job group (description `label`, set thread-locally inside the
    * task), with `interruptOnCancel`, so `settle()` can cancel them
    * together with any job the probe has yet to start.
    */
  private[graft] def backgroundGate[A](
      spark: SparkSession, label: String)(f: => A): Gate[A] = {
    val sc = spark.sparkContext
    val group = s"$label ${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[A] {
      override def call(): A = {
        sc.setJobGroup(group, label, interruptOnCancel = true)
        f
      }
    })
    pool.shutdown()
    new Gate[A] {
      override def apply(): A = try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
      override def settle(): Unit = {
        if (!fut.isDone) sc.cancelJobGroupAndFutureJobs(group, "statement failed")
        try { fut.get(); () } catch { case _: Throwable => () }
      }
    }
  }

  private[graft] def retryOnConflict[A](maxAttempts: Int = 16)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          // linear backoff with jitter: racing committers de-synchronize
          // instead of re-colliding on every attempt (and the metadata
          // store isn't hammered under N-writer contention)
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(attempt * 20L + 1))
      }
    }
    sys.error("unreachable")
  }

  /** Full-snapshot commit: the new version is exactly `df`. Data lands
    * fully before the pointer moves; a crash earlier leaves only
    * unreferenced garbage directories.
    */
  def commit(
      df: DataFrame,
      tableDir: String,
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      statsCols: Seq[String] = Nil,
      bloom: Option[BloomConfig] = None,
      txn: Option[(String, Long)] = None,
      sortWithin: Seq[String] = Nil): Long = {
    LakeConstraints.enforce(df.sparkSession, tableDir, df, "commit")
    LakeConstraints.enforceFk(df.sparkSession, tableDir, df, "commit")
    // a snapshot REPLACES the table, so UNIQUE needs only the
    // within-batch check (no base version to probe)
    LakeConstraints.enforceUnique(df.sparkSession, tableDir, df, None, "commit")
    val w = writeDataDir(df, tableDir, parts, maxRecordsPerFile,
      sortWithin = sortWithin, statsCols = statsCols)
    val blooms = bloomJson(df, bloom).map(w.dir -> _).toMap
    // a full snapshot replaces the table regardless of base version, so a
    // lost race only means re-claiming the next number — data is written.
    // Gated on the base anyway so writer txn watermarks carry forward
    // from the exact version being superseded. `txn` gates exactly-once
    // like appendCommitTxn (a replayed snapshot rebuild must no-op).
    retryOnConflict() {
      val spark = df.sparkSession
      val cur = currentVersion(spark, tableDir)
      if (cur.exists(alreadyCommitted(spark, tableDir, _, txn))) return cur.get
      publishManifest(spark, tableDir, Seq(w.dir), nullableAll(df.schema), w.statsBy, blooms,
        expectedBase = Some(cur), txn = txn, op = "snapshot", ndv = w.ndvBy)
    }
  }

  /** Full-snapshot commit GATED on an explicit base version — the
    * read-modify-write primitive for callers that derived `df` FROM the
    * base snapshot (compaction-like rewrites): if the table moved past
    * `base` since the caller's read, this throws
    * [[CommitConflictException]] instead of clobbering the concurrent
    * commit; the caller re-reads and re-derives. Txn watermarks carry
    * from `base`.
    */
  private[graft] def commitReplacing(
      df: DataFrame,
      tableDir: String,
      base: Long,
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      op: String = "replace"): Long = {
    val spark = df.sparkSession
    val d = writeDataDir(df, tableDir, parts, maxRecordsPerFile).dir
    publishManifest(spark, tableDir, Seq(d), nullableAll(df.schema),
      expectedBase = Some(Some(base)), op = op)
  }

  /** O(delta) append commit: writes ONLY the batch; the new manifest is
    * the prior version's directories plus the batch's, its stats observed
    * by the write: without a bloom or constraint, ONE Spark job. The
    * `foreachBatch` body for an atomically-published streaming ingest.
    * A batch may add columns: the committed schema is the union-by-name
    * of the prior version's and the batch's (see [[SchemaHeader]]), so
    * older directories read back with nulls in the new columns.
    */
  def appendCommit(
      df: DataFrame,
      tableDir: String,
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      statsCols: Seq[String] = Nil,
      bloom: Option[BloomConfig] = None,
      sortWithin: Seq[String] = Nil): Long =
    appendCommitInternal(df, tableDir, parts, maxRecordsPerFile, statsCols, bloom,
      None, sortWithin)

  /** [[appendCommit]] with EXACTLY-ONCE semantics for replayable writers
    * (Structured Streaming `foreachBatch`): the commit records
    * `(appId, batchId)` in the manifest, and a call whose batchId is at
    * or below the appId's committed watermark is a NO-OP returning the
    * current version — a batch replayed after a failure cannot append
    * its rows twice. The watermark check and the publish share one
    * optimistic-concurrency critical section, so two racing replays of
    * the same batch serialize: one commits, the other re-reads the new
    * watermark and no-ops. Idempotent sink body:
    * {{{
    * ds.writeStream.foreachBatch { (batch, id) =>
    *   VersionedLake.appendCommitTxn(batch, dir, appId = "ingest-A", batchId = id)
    * }
    * }}}
    */
  def appendCommitTxn(
      df: DataFrame,
      tableDir: String,
      appId: String,
      batchId: Long,
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      statsCols: Seq[String] = Nil,
      bloom: Option[BloomConfig] = None,
      sortWithin: Seq[String] = Nil): Long = {
    require(appId.forall(c => c != '\t' && c != '\n' && c != '\r'),
      s"appId must not contain tab/newline: $appId")
    val spark = df.sparkSession
    // fast path: already committed (cheap check before the batch write)
    currentVersion(spark, tableDir).foreach { v =>
      if (alreadyCommitted(spark, tableDir, v, Some(appId -> batchId))) return v
    }
    appendCommitInternal(df, tableDir, parts, maxRecordsPerFile, statsCols, bloom,
      Some(appId -> batchId), sortWithin)
  }

  /** METADATA-ONLY WATERMARK COMMIT — record `appId -> batchId` without
    * touching a data directory: everything else (dirs, schema, stats,
    * blooms, pending deletes) carries verbatim, and the CDC
    * feed classifies the version as zero rows changed. This is the
    * commit an exactly-once consumer needs when its window NETS to no
    * row change (an insert-then-delete span, a compaction-only span) —
    * without it the watermark never advances, every later sync re-reads
    * an unboundedly growing window, and replication wedges permanently
    * once retention reclaims the window's artifacts. Idempotent per
    * (appId, batchId), same OCC critical section as the data commits.
    */
  def commitTxnWatermark(
      spark: SparkSession,
      tableDir: String,
      appId: String,
      batchId: Long): Long = {
    require(appId.forall(c => c != '\t' && c != '\n' && c != '\r'),
      s"appId must not contain tab/newline: $appId")
    retryOnConflict(maxAttempts = 8) {
      val cur = currentVersion(spark, tableDir).getOrElse(
        throw new IllegalStateException(s"no published version in $tableDir"))
      val txn = Some(appId -> batchId)
      if (alreadyCommitted(spark, tableDir, cur, txn)) cur
      else {
        val schema = versionSchema(spark, tableDir, cur)
          .getOrElse(readVersion(spark, tableDir, cur).schema)
        publishManifest(spark, tableDir, manifest(spark, tableDir, cur), schema,
          expectedBase = Some(Some(cur)), txn = txn,
          eqdeletes = dirEqDeletes(spark, tableDir, cur), op = "watermark")
      }
    }
  }

  private def appendCommitInternal(
      df: DataFrame,
      tableDir: String,
      parts: Seq[String],
      maxRecordsPerFile: Long,
      statsCols: Seq[String],
      bloom: Option[BloomConfig],
      txn: Option[(String, Long)],
      sortWithin: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    // persisted only when a bloom build or a constraint probe reads the
    // batch besides the write (which computes its stats)
    val cacheBatch = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      (bloom.isDefined || LakeConstraints.declared(spark, tableDir))
    if (cacheBatch)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
    LakeConstraints.enforce(spark, tableDir, df, "appendCommit")
    LakeConstraints.enforceFk(spark, tableDir, df, "appendCommit")
    // the write (with its stats) and bloom happen ONCE; the directory is
    // immutable, so a lost publish race only re-reads the prior manifest.
    // Write and bloom have disjoint outputs — overlap them (§2.6).
    val appendResults = inParallel[Any](spark,
      ("append: write batch" -> (() =>
        writeDataDir(df, tableDir, parts, maxRecordsPerFile,
          sortWithin = sortWithin, statsCols = statsCols))) +:
        bloom.toSeq.map(b => "append: batch bloom" -> (() => bloomJson(df, Some(b)))))
    val w = appendResults.head.asInstanceOf[Written]
    val batchBloom = appendResults.drop(1).headOption.flatMap(_.asInstanceOf[Option[String]])
    val batchSchema = nullableAll(df.schema)
    retryOnConflict() {
      val cur = currentVersion(spark, tableDir)
      // exactly-once gate INSIDE the critical section: a concurrent replay
      // of the same (appId, batchId) that won the race moved the watermark
      if (cur.exists(alreadyCommitted(spark, tableDir, _, txn))) return cur.get
      // UNIQUE constraints probe INSIDE the critical section: losing the
      // publish race re-enters here with the winner's version, so two
      // racing inserts of the same key serialize through the manifest
      // slot instead of both passing a stale probe
      LakeConstraints.enforceUnique(spark, tableDir, df, cur, "appendCommit")
      val prior = cur.map(v => manifest(spark, tableDir, v)).getOrElse(Nil)
      val priorSchema = cur.map { v =>
        versionSchema(spark, tableDir, v)
          .getOrElse(nullableAll(readVersion(spark, tableDir, v).schema))
      }
      // pending merge-on-read deletes carry with their pinned scopes: the
      // new batch directory is outside every scope, so an appended
      // re-insert of a deleted key is visible by construction
      val priorEq = cur.map(v => dirEqDeletes(spark, tableDir, v)).getOrElse(Nil)
      val merged = priorSchema
        .map(p => mergeSchemas(p, batchSchema))
        .getOrElse(batchSchema)
      // only the new batch brings layers; the prior directories' carry
      // (publishManifest) keeps the commit O(delta)
      publishManifest(spark, tableDir, prior :+ w.dir, merged, w.statsBy,
        batchBloom.map(w.dir -> _).toMap, expectedBase = Some(cur),
        txn = txn, eqdeletes = priorEq, op = "append", ndv = w.ndvBy)
    }
    } finally if (cacheBatch) df.unpersist(blocking = false)
  }

  /** DEEP nullability normalization: parquet round-trips lose NOT NULL,
    * so the committed schema admits null at every level — including
    * inside structs/arrays/maps. Shallow normalization here caused a
    * false evolution conflict: a VALUES-derived batch types struct
    * fields NOT NULL, and the dataType.sql comparison in
    * [[mergeSchemas]] would see `STRUCT<x: T NOT NULL>` vs
    * `STRUCT<x: T>` as a forbidden retype.
    */
  private def nullableAll(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def deep(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = deep(f.dataType), nullable = true)).toSeq)
      case ArrayType(et, _)    => ArrayType(deep(et), containsNull = true)
      case MapType(kt, vt, _)  => MapType(deep(kt), deep(vt), valueContainsNull = true)
      case other               => other
    }
    deep(s).asInstanceOf[StructType]
  }

  /** Read the published snapshot — only manifested directories resolve;
    * in-flight or crashed writers' directories are invisible.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir,
      currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir")))

  /** Time travel: read a specific retained version. With a committed
    * schema (see [[SchemaHeader]]) the scan gets it explicitly — files
    * predating an added column return null for it; headerless legacy
    * manifests fall back to first-file schema inference.
    */
  def readVersion(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    val dirs = manifest(spark, tableDir, version)
    require(dirs.nonEmpty, s"version $version of $tableDir has an empty manifest")
    readDirsWithDeletes(spark, tableDir, version, dirs,
      versionSchema(spark, tableDir, version))
  }

  /** Scan `keep` (data directory NAMES of `version`) with the version's
    * pending merge-on-read deletes applied. Directories are grouped by
    * the SET of delete files that apply to them and each group is
    * anti-joined separately: one frame per distinct delete scope, so a
    * key deleted from old directories and re-inserted by a later append
    * survives in the append's directory (a single global anti-join would
    * wrongly remove it). With no pending deletes this IS [[readDirs]].
    * Delete key sets are broadcast (they are deltas by design — bulk
    * deletions belong on the copy-on-write [[deleteKeys]] path).
    */
  private[graft] def readDirsWithDeletes(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      keep: Seq[String],
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      keepPos: Boolean = false): DataFrame = {
    val dels = dirEqDeletes(spark, tableDir, version)
    def scan(ds: Seq[String], withPos: Boolean) =
      readDirs(spark, tableDir, ds.map(d => s"$tableDir/data/$d"), schemaOpt,
        withPos = withPos)
    val relevant = dels.filter(_.dirs.exists(keep.contains))
    if (relevant.isEmpty) scan(keep, keepPos)
    else {
      val groups = keep.groupBy(d => relevant.filter(_.dirs.contains(d)).map(_.dir))
        .toSeq.sortBy(_._2.map(keep.indexOf).min)
      groups.map { case (applicableDirs, ds) =>
        val es = relevant.filter(e => applicableDirs.contains(e.dir))
        // position deletes anti-join on the scan's own (_pos_file,
        // _pos_row) metadata identity — attach it whenever one applies
        // (or the caller asked to keep it), drop it unless asked
        val needPos = keepPos || es.exists(isPosDelete)
        val out = es.foldLeft(scan(ds, needPos)) { (acc, e) =>
          acc.join(broadcast(readParquet(spark, s"$tableDir/deletes/${e.dir}")),
            e.keys, "left_anti")
        }
        if (needPos && !keepPos) out.drop(PosDeleteKeys: _*) else out
      }.reduce(_ unionByName _)
    }
  }

  /** A data directory's hive-partition column chain, read off its own
    * `k=v` directory structure (the manifest records directories, not
    * their internal layout — the layout is self-describing).
    */
  /** The table's hive-partition column chain at `version` (read off the
    * newest data directory's self-describing `k=v` layout — the manifest
    * records directories, not their internals). Empty for unpartitioned
    * tables. Callers that append through a facade ([[GraftCatalog]]'s
    * INSERT path) use this to keep new commits layout-aligned with the
    * table instead of silently flattening it.
    */
  /** The hive layout NEW batches follow: the physical newest-dir spec,
    * else the DDL-declared carrier (the catalog's `table.parts` prop) —
    * an empty created table records no self-describing k=v chain, so
    * without consulting the carrier a first batch would silently write
    * FLAT and lose the declared partitioning forever. Every path that
    * writes a new data directory for an existing table (catalog INSERT,
    * replaceWhere's batch, dynamic overwrite) must use THIS, not
    * [[partitionColumns]].
    */
  def declaredOrPhysicalParts(
      spark: SparkSession,
      tableDir: String,
      version: Long): Seq[String] = {
    // precedence: an explicit declaration ([[setPartitionSpec]]'s
    // `#declspec` line — may legitimately be EMPTY, meaning evolved to
    // unpartitioned) > the newest directory's physical chain > the DDL
    // carrier prop (empty created tables, which have neither)
    val raw = declaredSpec(spark, tableDir, version).getOrElse {
      val phys = partitionColumns(spark, tableDir, version)
      if (phys.nonEmpty) phys
      else LakeProps.get(spark, tableDir).get("table.parts")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    }
    if (raw.isEmpty) raw
    else {
      // translate FORMER names through the aka indirection: after a
      // metadata-only partition-column rename the newest dir may still
      // render the old name, but new directories must lay out under the
      // CURRENT one or the table forks into a permanent two-name layout
      val schema = versionSchema(spark, tableDir, version)
      raw.map { c =>
        schema.flatMap(_.fields.filterNot(isDropped).find(f =>
          akaNames(f).exists(_.equalsIgnoreCase(c)) && !f.name.equalsIgnoreCase(c))
          .map(_.name)).getOrElse(c)
      }
    }
  }

  /** Continue a table's declared skipping layers onto a new batch
    * directory: the stat/bloom columns the version's manifest declares,
    * intersected with the batch's schema — the carry rule the catalog
    * INSERT and the replace-where batch share (without it every SQL
    * ingest would silently degrade dir-level pruning).
    */
  def continuedLayers(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      batchCols: Seq[String]): (Seq[String], Option[BloomConfig]) = {
    val statCols = dirStats(spark, tableDir, version).values.flatMap(_.keys)
      .toSeq.distinct.sorted.filter(batchCols.contains)
    val bs = dirBlooms(spark, tableDir, version)
    val cols = bs.values.flatMap(_.keys).toSeq.distinct.sorted
      .filter(batchCols.contains)
    val bloom =
      if (cols.isEmpty) None
      else {
        val (m, k) = bs.values.flatMap(_.values).map(t => (t._1, t._2)).maxBy(_._1)
        Some(BloomConfig(cols, m, k))
      }
    (statCols, bloom)
  }

  /** One directory's hive chain: the manifest's parts line, else the
    * self-describing physical walk (legacy manifests predating the
    * header).
    */
  def dirPartitionChain(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      dir: String): Seq[String] =
    dirParts(spark, tableDir, version)
      .getOrElse(dir, partitionColsOf(spark, tableDir, dir))

  /** TRUNCATE: an empty snapshot commit that PRESERVES the table's
    * declarations — the schema, the declared skipping layers (the empty
    * dir carries all-null stats lines and an empty bloom, so the
    * catalog INSERT's continuation rule keeps carrying them), and the
    * hive layout (recorded into the `table.parts` carrier prop if not
    * already there, since an empty snapshot has no self-describing
    * chain). History stays: the pre-truncate version time-travels and
    * rollback restores it. Like rollback, the commit carries no
    * row-level artifact — a CDC window spanning it refuses loudly.
    */
  def truncate(spark: SparkSession, tableDir: String): Long = {
    val cur = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val schema = visibleSchema(versionSchema(spark, tableDir, cur)
      .getOrElse(nullableAll(readVersion(spark, tableDir, cur).schema)))
    val parts = declaredOrPhysicalParts(spark, tableDir, cur)
    if (parts.nonEmpty && !LakeProps.get(spark, tableDir).contains("table.parts"))
      LakeProps.set(spark, tableDir, "table.parts", parts.mkString(","))
    val (statCols, bloom) = continuedLayers(spark, tableDir, cur, schema.fieldNames.toSeq)
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .repartition(1) // one empty-but-schema'd file keeps read paths uniform
    commit(empty, tableDir, statsCols = statCols, bloom = bloom)
  }

  def partitionColumns(spark: SparkSession, tableDir: String, version: Long): Seq[String] =
    manifest(spark, tableDir, version).lastOption
      .map { d =>
        // the manifest's parts line answers without touching the FS;
        // absence falls back to the self-describing walk (legacy
        // manifests predating the header)
        dirParts(spark, tableDir, version).get(d)
          .getOrElse(partitionColsOf(spark, tableDir, d))
      }
      .getOrElse(Nil)

  /** EVERY hive-partition column any of the version's directories is
    * laid out under — the guard-side complement of [[partitionColumns]]
    * (which answers "what spec do NEW appends follow" = newest dir).
    * With partition-spec evolution a version legitimately mixes specs,
    * so schema-evolution guards (rename/drop/widen refuse on partition
    * columns) must check the UNION: a directory written under an OLDER
    * spec partitioned by the column still renders its values into
    * directory names. Answered from the manifest's parts lines (one
    * memoized parse, no FS walk); manifests predating the header are
    * single-spec by construction (evolution needs post-header commits),
    * so the newest-dir fallback is representative there.
    */
  private[graft] def allPartitionColumns(
      spark: SparkSession,
      tableDir: String,
      version: Long): Set[String] = {
    val byDir = dirParts(spark, tableDir, version)
    val physical =
      if (byDir.nonEmpty) byDir.values.flatten.toSet
      else partitionColumns(spark, tableDir, version).toSet
    // a DECLARED-but-not-yet-materialized spec column counts too: the
    // very next INSERT lays out under it, so dropping it now would make
    // the declaration unfulfillable one commit later
    physical ++ declaredSpec(spark, tableDir, version).getOrElse(Nil)
  }

  /** Whether any hive-partition column of `version` is DECIMAL-typed.
    * Decimal dir-name renders parse UNSAFELY under the stock parquet
    * partition reader once the declared scale outgrows a render
    * ([[widenColumn]]): the digits bind as the unscaled value of the
    * declared type, a silent 10^Δscale shift. [[readDirs]] reads such
    * levels as strings and casts exactly; catalog scans consult THIS to
    * route through the V1 read-through that carries that fix.
    */
  private[graft] def hasDecimalPartition(
      spark: SparkSession,
      tableDir: String,
      version: Long): Boolean = {
    val parts = allPartitionColumns(spark, tableDir, version)
    parts.nonEmpty && versionSchema(spark, tableDir, version).exists(s =>
      s.fields.exists(f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
          parts.exists(_.equalsIgnoreCase(f.name))))
  }

  private def partitionColsOf(spark: SparkSession, tableDir: String, d: String): Seq[String] =
    partChainOfPath(spark, tableDir, s"$tableDir/data/$d")

  /** A REWRITTEN directory's hive layout: its own rendered chain,
    * translated to the LOGICAL column names — rewrites normalize the
    * rename indirection (the rewritten frame carries current names, so
    * a pre-rename `day=` directory rewrites as `dt=`), exactly the
    * normalization contract compaction already documents.
    */
  private def rewriteParts(
      spark: SparkSession,
      tableDir: String,
      d: String,
      schemaOpt: Option[org.apache.spark.sql.types.StructType]): Seq[String] =
    partitionColsOf(spark, tableDir, d).map { c =>
      schemaOpt.flatMap(_.fields.filterNot(isDropped).find(f =>
        akaNames(f).exists(_.equalsIgnoreCase(c))).map(_.name)).getOrElse(c)
    }

  /** The self-describing hive `k=v` column chain under an arbitrary data
    * path (empty = flat). */
  private def partChainOfPath(spark: SparkSession, tableDir: String, path: String): Seq[String] = {
    val f = fs(spark, tableDir)
    @scala.annotation.tailrec
    def walk(p: org.apache.hadoop.fs.Path, acc: Seq[String]): Seq[String] = {
      val kv = f.listStatus(p)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => n.indexOf('=') > 0)
      if (kv.isEmpty) acc
      else {
        val name = kv.head
        walk(new org.apache.hadoop.fs.Path(p, name),
          acc :+ name.substring(0, name.indexOf('=')))
      }
    }
    walk(new org.apache.hadoop.fs.Path(path), Nil)
  }

  /** Plan a scan over a version's data directories. Hive-partitioned
    * commits (`parts` non-empty) need care once a version spans several
    * directories: Spark's partition discovery walks up from each leaf and
    * records the first non-`k=v` level (each commit's uuid dir) as that
    * leaf's partition ROOT, so a multi-root partitioned listing always
    * fails as "conflicting directory structures" — `basePath` cannot
    * bridge the uuid level. Those versions read as a UNION of per-commit
    * scans instead: partition pruning still pushes into every child, and
    * the union fan-out is bounded by the [[optimize]] cadence (which
    * collapses the manifest back to one directory), so the planner never
    * sees unbounded scan counts. Unpartitioned tables keep the single
    * multi-path scan.
    */
  private def readDirs(
      spark: SparkSession,
      tableDir: String,
      paths: Seq[String],
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      withPos: Boolean = false): DataFrame = {
    def one(ps: Seq[String]): DataFrame = {
      val r = spark.read.option("basePath", s"$tableDir/data")
      // DECIMAL hive-partition values parse UNSAFELY under a widened
      // scale: Spark binds the dir name's digits as the unscaled value
      // of the DECLARED type ("p=1.50" under DECIMAL(22,6) reads
      // 0.000150, a 10^4 shift). The render is authoritative as a
      // STRING, and a string→decimal cast is exact — so decimal
      // partition levels read as strings and cast in the projection.
      // Hive-level pruning on such columns degrades to a post-scan
      // filter (the cast blocks partition-filter pushdown); the
      // manifest stats layer still prunes whole DIRECTORIES, which is
      // the skipping layer that matters at scale. Detection is gated on
      // the schema carrying any decimal at all, so the common read pays
      // zero extra metadata walks.
      def decPartCols(s: org.apache.spark.sql.types.StructType): Set[String] =
        if (!s.fields.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
          Set.empty
        else {
          val partNames = ps.flatMap(p => partChainOfPath(spark, tableDir, p))
            .map(_.toLowerCase).toSet
          s.fields.filter(f => partNames.contains(f.name.toLowerCase) &&
            f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
            .map(_.name).toSet
        }
      schemaOpt match {
        case Some(s) if needsResolve(s) =>
          // rename/drop indirection: force a read schema holding EVERY
          // name a live field was ever written under (files lacking a
          // variant null-fill it by parquet name resolution), fold the
          // variants into the logical column — each file has exactly
          // one — and project tombstoned columns away entirely
          import org.apache.spark.sql.types.{StructField, StructType}
          // a variant rendered as a hive-PARTITION level of these paths
          // (a renamed partition column: old dirs keep `day=` while the
          // logical column is `dt`) has exactly ONE source — the dir
          // name — so it binds by bare alias, NOT coalesce: Catalyst
          // pushes dt-filters through an alias to the partition column
          // and pruning survives the rename, while a coalesce would
          // demote them to post-scan filters
          val partNames = ps.flatMap(p => partChainOfPath(spark, tableDir, p))
            .map(_.toLowerCase).toSet
          val live = s.fields.filterNot(isDropped)
          def isDec(dt: org.apache.spark.sql.types.DataType) =
            dt.isInstanceOf[org.apache.spark.sql.types.DecimalType]
          def readType(f: StructField, variant: String) =
            if (isDec(f.dataType) && partNames.contains(variant.toLowerCase))
              org.apache.spark.sql.types.StringType
            else f.dataType
          val readSchema = StructType(live.flatMap { f =>
            // a single-variant field keeps its metadata so EXISTENCE
            // DEFAULTS still fill on this bridge (files predating an ADD
            // COLUMN DEFAULT read the default, not null). Multi-variant
            // fields strip it: a default filled into an absent VARIANT
            // would shadow a legit NULL in the present one through the
            // coalesce — renameColumn refuses defaulted columns for
            // exactly this reason, so the combination cannot occur.
            val md = if (akaNames(f).isEmpty) f.metadata
              else org.apache.spark.sql.types.Metadata.empty
            StructField(f.name, readType(f, f.name), nullable = true, md) +:
              akaNames(f).map(n => StructField(n, readType(f, n), nullable = true))
          })
          val logical = live.map { f =>
            val variants = f.name +: akaNames(f)
            variants.find(v => partNames.contains(v.toLowerCase)) match {
              case Some(v) if isDec(f.dataType) =>
                // decimal partition level: string-read, exact cast
                col(v).cast(f.dataType).as(f.name, f.metadata)
              case Some(v) => col(v).as(f.name, f.metadata)
              case None =>
                val cols = variants.map(col)
                (if (cols.size == 1) cols.head else coalesce(cols: _*))
                  .as(f.name, f.metadata)
            }
          }.toIndexedSeq
          // position identity attaches INSIDE the projection — _metadata
          // is hidden after any select
          r.schema(readSchema).parquet(ps: _*)
            .select((logical ++ (if (withPos) posIdentityCols else Nil)): _*)
        case Some(s) =>
          val dec = decPartCols(s)
          if (dec.isEmpty) {
            val base = r.schema(s).parquet(ps: _*)
            if (withPos) base.select(col("*") +: posIdentityCols: _*) else base
          } else {
            import org.apache.spark.sql.types.{StringType, StructType}
            val rs = StructType(s.fields.map(f =>
              if (dec(f.name)) f.copy(dataType = StringType) else f))
            val logical = s.fields.map { f =>
              if (dec(f.name)) col(f.name).cast(f.dataType).as(f.name, f.metadata)
              else col(f.name)
            }.toIndexedSeq
            r.schema(rs).parquet(ps: _*)
              .select(logical ++ (if (withPos) posIdentityCols else Nil): _*)
          }
        case None =>
          val base = r.parquet(ps: _*)
          if (withPos) base.select(col("*") +: posIdentityCols: _*) else base
      }
    }
    if (paths.size <= 1) one(paths)
    else {
      // structural pre-check, not message sniffing: a hive-partitioned
      // commit dir makes multi-root partition discovery fail on ANY Spark
      // version (the uuid level between basePath and the k=v chain), so
      // choose the per-dir union read up front when any root is
      // partitioned. The catch stays as a belt-and-suspenders fallback,
      // matching both the 4.x error class and the 3.x assertion message.
      val f = fs(spark, tableDir)
      val partitioned = paths.exists { p =>
        scala.util.Try(
          f.listStatus(new org.apache.hadoop.fs.Path(p))
            .exists(s => s.isDirectory && s.getPath.getName.indexOf('=') > 0)
        ).getOrElse(false)
      }
      if (partitioned) paths.map(p => one(Seq(p))).reduce(_.unionByName(_))
      else
        try one(paths)
        catch {
          case e: Exception
              if String.valueOf(e.getMessage).contains("CONFLICTING_DIRECTORY_STRUCTURES") ||
                String.valueOf(e.getMessage).contains("Conflicting directory structures") =>
            paths.map(p => one(Seq(p))).reduce(_.unionByName(_))
        }
    }
  }

  /** Append-only CHANGE FEED between two retained versions: the rows in
    * data directories `toVersion` references that `fromVersion` does not
    * — the consumer side of the manifest-diff contract
    * ([[graft.operators.IvfIndex.sync]] is one consumer). Zero scanning
    * to discover changes: the commit log already knows. Refuses (rather
    * than silently under-reports) when directories were REWRITTEN in the
    * window (upsert/delete/compaction) — a rewrite folds old rows into
    * new directories, so "added rows" is no longer expressible as a
    * directory diff; diff by key against the snapshots instead.
    */
  def readAppendedBetween(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val fromDirs = manifest(spark, tableDir, fromVersion).toSet
    val toDirs = manifest(spark, tableDir, toVersion)
    require(fromDirs.forall(toDirs.contains),
      s"$tableDir rewrote directories between $fromVersion and $toVersion " +
        "(upsert/delete/compaction) - an append-only feed cannot express that; " +
        "diff the snapshots by key instead")
    // a merge-on-read delete published inside the window is a RETRACTION —
    // inexpressible in an append-only feed (same contract as the rewrite
    // guard above). Deletes published before `fromVersion` only scope
    // directories that already existed then, never the window's new ones.
    val fromDels = dirEqDeletes(spark, tableDir, fromVersion).map(_.dir).toSet
    val newDels = dirEqDeletes(spark, tableDir, toVersion).filterNot(e => fromDels(e.dir))
    require(newDels.isEmpty,
      s"$tableDir published merge-on-read deletes between $fromVersion and " +
        s"$toVersion - an append-only feed cannot express retractions; " +
        "diff the snapshots by key instead")
    val newDirs = toDirs.filterNot(fromDirs)
    val schema = versionSchema(spark, tableDir, toVersion)
      .getOrElse(nullableAll(readVersion(spark, tableDir, toVersion).schema))
    if (newDirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else
      readDirs(spark, tableDir, newDirs.map(d => s"$tableDir/data/$d"), Some(schema))
  }

  /** ROW-LEVEL CDC CHANGE FEED over `(fromVersion, toVersion]`: every
    * logical row change in the window as
    * `(data columns..., _change_type, _commit_version)` with change
    * types `insert` / `delete` / `update_preimage` / `update_postimage`
    * — the Delta-CDF-shaped contract a downstream sync (a search index,
    * a mirror table, a training-set refresher) consumes instead of
    * re-diffing snapshots. `fromVersion = -1` streams the table from
    * its first commit.
    *
    * Cost model — and why this rides the MoR paths: each version is
    * reconstructed from its own manifest diff. Appends read ONLY the
    * appended directories (O(delta)). Merge-on-read upserts/deletes
    * read their delete-key file plus the SCOPED pre-commit directories
    * to produce exact pre-images (O(delta + scoped dirs) — the same
    * read the MoR commit itself deferred). Layout-only versions
    * ([[optimize]], [[materializeDeletes]]) change no logical rows and
    * emit nothing. Copy-on-write rewrites ([[upsert]], [[deleteWhere]],
    * [[updateWhere]], [[deleteKeys]] — and the SQL MERGE/UPDATE/DELETE
    * riding them) publish a commit-time CHANGE ARTIFACT (see
    * [[ChangesHeader]]) built from the pre-image rows their probe
    * already materializes — Delta's CDC-file bargain — so the feed
    * reads it back in O(artifact). Only rewrites with no artifact
    * (rollback, snapshot replaces, and CoW commits made before
    * artifacts existed) refuse loudly: their manifests fold old and
    * surviving rows into fresh directories, so the row delta is not
    * reconstructible from the commit log.
    *
    * Schema evolution inside the window is handled by name: frames
    * union with missing columns null-filled, output at `toVersion`'s
    * schema ordering.
    */
  def readRowChanges(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val deltas = ((fromVersion + 1) to toVersion).map { v =>
      rowChangesOf(spark, tableDir, v)
    }
    // O(1) PLAN DEPTH for the artifact-backed span: every copy-on-write
    // version's change artifact is a parquet directory, so the whole set
    // reads as ONE multi-path scan with `_commit_version` recovered
    // per-file from the path — a `t$changes` window over a 10k-commit
    // retained history would otherwise fold 10k per-version frames into
    // a union whose analysis alone dominates the read. Per-version
    // frames remain only where reconstruction genuinely differs per
    // version (MoR pre-images, appended-directory reads).
    val arts = deltas.collect { case a: ArtifactDelta => a }
    val artFrame =
      if (arts.isEmpty) None
      else if (arts.sizeIs == 1)
        Some(readParquet(spark, s"$tableDir/changes/${arts.head.artifact}")
          .withColumn("_commit_version", lit(arts.head.version)))
      else Some(readChangeArtifacts(spark, tableDir, arts))
    val frames = deltas.collect { case f: FrameDelta => f.frame } ++ artFrame
    val outSchema = visibleSchema(nullableAll(
      versionSchema(spark, tableDir, toVersion)
        .getOrElse(readVersion(spark, tableDir, toVersion).schema)))
      .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)
    if (frames.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    else {
      val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
      // column order (and any columns the window never saw) normalize to
      // the toVersion schema — resolving RENAME indirection by name:
      // frames carry each version's own logical names, so the output
      // column coalesces over every name the field carried INSIDE the
      // window (fieldAliases walks the window's schemas — robust across
      // a compaction shedding the aka metadata mid-window)
      val toSchema = versionSchema(spark, tableDir, toVersion)
        .getOrElse(org.apache.spark.sql.types.StructType(Nil))
      // the alias walk re-reads one schema per window version — pay it
      // ONLY when the union actually surfaced former-name columns (a
      // rename happened inside the window); the common rename-free
      // window costs zero extra metadata reads
      val extraCols = unioned.columns.toSet -- outSchema.fieldNames.toSet
      val aliases =
        if (extraCols.isEmpty) Map.empty[String, Seq[String]]
        else fieldAliases(spark, tableDir, toSchema, fromVersion, toVersion)
      alignToSchema(unioned, outSchema, aliases)
    }
  }

  /** Normalize a change-feed frame to an output schema: one column per
    * schema field, coalescing over every name VARIANT the field carried
    * across the span (rename indirection), null-filling fields the frame
    * never saw, casting up when the frame predates a widen_column (union
    * coercion already widened mixed frames; a no-op cast elides). The
    * ONE projection behind both [[readRowChanges]] and the SQL
    * `t$changes` view, so schema-evolution features cannot diverge
    * between the library and catalog read paths.
    */
  private[graft] def alignToSchema(
      df: DataFrame,
      outSchema: org.apache.spark.sql.types.StructType,
      aliases: Map[String, Seq[String]]): DataFrame =
    df.select(outSchema.fields.map { f =>
      val variants = aliases.getOrElse(f.name, Seq(f.name))
        .filter(df.columns.contains)
      def up(c: org.apache.spark.sql.Column) =
        if (df.schema.fields.exists(u =>
          variants.contains(u.name) && u.dataType != f.dataType)) c.cast(f.dataType)
        else c
      if (variants.isEmpty) lit(null).cast(f.dataType).as(f.name)
      else if (variants.size == 1) up(col(variants.head)).as(f.name)
      else up(coalesce(variants.map(col): _*)).as(f.name)
    }.toIndexedSeq: _*)

  /** One window version's contribution to the change feed. */
  private sealed trait VersionDelta
  /** Layout/metadata-only version: no logical row changed. */
  private case object NoDelta extends VersionDelta
  /** A copy-on-write version whose delta is a committed change artifact —
    * batchable into one multi-path scan by [[readChangeArtifacts]].
    */
  private final case class ArtifactDelta(version: Long, artifact: String)
      extends VersionDelta
  /** A version needing its own reconstruction plan (append reads, MoR
    * pre-image joins).
    */
  private final case class FrameDelta(frame: DataFrame) extends VersionDelta

  /** One version's row changes classified as a [[VersionDelta]]. Throws
    * for unclassifiable rewrites.
    */
  private def rowChangesOf(
      spark: SparkSession,
      tableDir: String,
      v: Long): VersionDelta = {
    val op = commitOp(spark, tableDir, v)
    val prevDirs = if (v == 0) Nil else manifest(spark, tableDir, v - 1)
    val dirs = manifest(spark, tableDir, v)
    val schemaOpt = versionSchema(spark, tableDir, v)
    val prevDels = if (v == 0) Nil else dirEqDeletes(spark, tableDir, v - 1)
    val newDels = dirEqDeletes(spark, tableDir, v)
      .filterNot(e => prevDels.exists(_.dir == e.dir))
    val addedDirs = dirs.filterNot(prevDirs.contains)
    val isPureAppend = prevDirs.forall(dirs.contains) && newDels.isEmpty
    def appended: DataFrame =
      readDirs(spark, tableDir, addedDirs.map(d => s"$tableDir/data/$d"), schemaOpt)
    def tagged(df: DataFrame, tpe: String): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
    /** Exact pre-images of one MoR delete: the scoped directories AT the
      * prior version (earlier pending deletes applied, so a key already
      * MoR-deleted cannot re-delete), semi-joined on the delete keys.
      */
    def preImages(e: EqDelete): DataFrame = {
      // position deletes never reach here: deleteWhereMor always writes
      // its change artifact (or the artifact-less refusal below fires) —
      // this reconstruction is for KEYED MoR commits only
      require(!isPosDelete(e),
        s"version $v of $tableDir: position delete in a keyed-MoR classification")
      val base = readDirsWithDeletes(spark, tableDir, v - 1, e.dirs,
        versionSchema(spark, tableDir, v - 1))
      base.join(broadcast(readParquet(spark, s"$tableDir/deletes/${e.dir}")),
        e.keys, "left_semi")
    }
    // pre-op manifests classify structurally: a version that only adds
    // directories (no new delete files) is an append — anything else is
    // an unclassifiable rewrite
    val kind = op.getOrElse(if (isPureAppend) "append" else "pre-op rewrite")
    kind match {
      case "append" =>
        if (addedDirs.isEmpty) NoDelta else FrameDelta(tagged(appended, "insert"))
      case "snapshot" if prevDirs.isEmpty =>
        // the table's first commit: everything is an insert
        if (addedDirs.isEmpty) NoDelta else FrameDelta(tagged(appended, "insert"))
      case "optimize" | "materialize" =>
        NoDelta // layout-only: identical logical rows before and after
      case "rename_column" | "drop_column" | "widen_column" | "watermark"
           | "set_spec" | "set_default" | "analyze" =>
        NoDelta // metadata-only: schema/spec declaration, txn watermark, or
                // stats backfill — no logical row changes
      case "delete_mor" =>
        newDels.map(preImages).reduceOption(_.unionByName(_))
          .fold[VersionDelta](NoDelta)(p => FrameDelta(tagged(p, "delete")))
      case "upsert_mor" =>
        newDels.headOption match {
          case None =>
            // pure-append fast path upsert (no keys matched a prior dir)
            // publishes no delete file — everything appended is an insert
            if (addedDirs.isEmpty) NoDelta else FrameDelta(tagged(appended, "insert"))
          case Some(e) =>
            // matched keys: update_preimage + update_postimage; unmatched
            // appended rows: insert. The delete file IS the batch's key
            // set, so matching against pre-images classifies exactly.
            val pre = newDels.map(preImages).reduce(_.unionByName(_))
            // NO broadcast hints: matchedKeys is the batch's matched key
            // set — delta-sized per commit but unbounded in batch size
            // (a 10M-key MoR upsert is legal), so a forced broadcast
            // hits the same 8 GB/driver-OOM wall the bulk-CoW
            // classification analyzed. AQE broadcasts at runtime when
            // the set really is small.
            val matchedKeys = pre.select(e.keys.map(col): _*).distinct()
            val post = appended.join(matchedKeys, e.keys, "left_semi")
            val ins = appended.join(matchedKeys, e.keys, "left_anti")
            // the upsert batch may have evolved the schema: pre-images
            // null-fill columns the prior version lacked
            FrameDelta(tagged(pre, "update_preimage")
              .unionByName(tagged(post, "update_postimage"), allowMissingColumns = true)
              .unionByName(tagged(ins, "insert"), allowMissingColumns = true))
        }
      case other =>
        // copy-on-write commits (upsert / delete_where / update_where /
        // delete_keys — including the SQL MERGE/UPDATE/DELETE riding
        // them) publish their row delta as a commit-time change artifact;
        // reading it back IS the feed — O(artifact), no reconstruction,
        // and the whole window's artifacts batch into one scan
        changesArtifact(spark, tableDir, v) match {
          case Some(cd) => ArtifactDelta(v, cd)
          case None =>
            throw new CdcWindowRefusedException(
              s"version $v of $tableDir ($other) is a rewrite with no change " +
                "artifact, which the commit log cannot replay row-level; " +
                "copy-on-write commits made before change artifacts existed " +
                "(and rollback/snapshot replaces) are in this class - route " +
                "CDC-consumed mutations through the lake's row-level ops, or " +
                "diff snapshots by key")
        }
    }
  }

  /** The window's artifact-backed versions as ONE multi-path parquet
    * scan. The read schema is the union of each version's visible
    * columns (all nullable — a file lacking a later column null-fills by
    * parquet name resolution, the [[readDirs]] contract) plus the
    * artifact's own `_change_type`; `_commit_version` is recovered
    * per-file from the artifact directory in the path via a broadcast
    * join against the (directory → version) map, which is metadata-sized
    * by construction. Plan cost is one scan node regardless of window
    * length — a map-literal lookup would instead pay an O(window) scan
    * per ROW, and per-version frames an O(window)-deep union.
    */
  private def readChangeArtifacts(
      spark: SparkSession,
      tableDir: String,
      arts: Seq[ArtifactDelta]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    arts.foreach { a =>
      val s = versionSchema(spark, tableDir, a.version).map(visibleSchema)
        .getOrElse(nullableAll(
          Session.footerSchema(spark, s"$tableDir/changes/${a.artifact}")))
      s.fields.foreach { f =>
        if (f.name != "_change_type")
          fields.get(f.name) match {
            case None =>
              fields(f.name) = StructField(f.name, f.dataType, nullable = true)
            case Some(prev) if isWidening(prev.dataType, f.dataType) =>
              // a widen_column inside the span: request the WIDEST type —
              // the parquet readers promote each narrower file at scan
              fields(f.name) = StructField(f.name, f.dataType, nullable = true)
            case Some(_) => ()
          }
      }
    }
    val readSchema = StructType(
      fields.values.toSeq :+ StructField("_change_type", StringType, nullable = true))
    val dirVer = arts.map(a => org.apache.spark.sql.Row(a.artifact, a.version))
    val dirDf = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(dirVer).asJava,
      StructType(Seq(
        StructField("_chg_dir", StringType, nullable = false),
        StructField("_commit_version", LongType, nullable = false))))
    spark.read.schema(readSchema)
      .parquet(arts.map(a => s"$tableDir/changes/${a.artifact}"): _*)
      // the artifact id is the file's IMMEDIATE PARENT directory
      // (artifacts are written unpartitioned: changes/<id>/part-*.parquet).
      // Anchoring at the end matters: matching the first "/changes/"
      // occurrence would mis-extract under a tableDir that itself
      // contains a "changes" path segment, silently emptying the join.
      .withColumn("_chg_dir",
        regexp_extract(input_file_name(), "/([^/]+)/[^/]*$", 1))
      .join(broadcast(dirDf), Seq("_chg_dir"))
      .drop("_chg_dir")
  }

  /** Predicate UPDATEs that assign a FOREIGN-KEY column validate the
    * POST-update keys of the matched rows before any rewrite: one
    * filtered projection (only when an FK column is actually assigned),
    * probed through the same range-pruned parent lookup as inserts.
    */
  private def enforceFkOnUpdate(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      assignments: Map[String, Column],
      op: String): Unit = {
    val fks = LakeConstraints.fksOf(spark, tableDir)
    val touched = fks.exists { case (_, (cols, _, _)) =>
      assignments.keys.exists(a => cols.exists(_.equalsIgnoreCase(a)))
    }
    if (touched) {
      val matched = read(spark, tableDir).filter(coalesce(predicate, lit(false)))
      val post = matched.select(matched.columns.toIndexedSeq.map { c =>
        assignments.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v.as(c) }
          .getOrElse(col(c))
      }: _*)
      LakeConstraints.enforceFk(spark, tableDir, post, op)
    }
  }

  /** Keyed write paths preserve UNIQUE constraints for free exactly when
    * the constraint's column set IS the upsert key set (same-keyed rows
    * REPLACE — the PK-upsert shape). Any other unique set could be
    * silently violated by an upsert that lands a new key whose unique
    * columns duplicate an untouched row, so it refuses loudly: route
    * such writes through delete+insert (one atomic replaceWhere) instead.
    */
  private def requireUniqueCompatibleKeys(
      spark: SparkSession,
      tableDir: String,
      keys: Seq[String],
      op: String): Unit =
    LakeConstraints.uniquesOf(spark, tableDir).foreach { case (n, cols) =>
      require(cols.map(_.toLowerCase).toSet == keys.map(_.toLowerCase).toSet,
        s"$op keyed on (${keys.mkString(",")}) cannot preserve UNIQUE '$n' " +
          s"(${cols.mkString(",")}) - keyed writes only uphold a unique set " +
          "equal to their key set; use replaceWhere (delete+insert, one " +
          "atomic commit) for this shape")
    }

  /** Predicate UPDATEs refuse to assign a UNIQUE column: the new values
    * would need probing against the whole table MINUS the matched rows —
    * reconstructable, but the honest O(delta) answer for key rewrites is
    * delete+insert (replaceWhere, one atomic commit), so point there.
    */
  private def requireUniqueUntouched(
      spark: SparkSession,
      tableDir: String,
      assigned: Iterable[String],
      op: String): Unit =
    LakeConstraints.uniquesOf(spark, tableDir).foreach { case (n, cols) =>
      val touched = assigned.filter(a => cols.exists(_.equalsIgnoreCase(a)))
      require(touched.isEmpty,
        s"$op assigns UNIQUE '$n' key column(s) ${touched.mkString(",")} - " +
          "rewrite keys via replaceWhere (delete+insert, one atomic commit)")
    }

  /** Keyed UPSERT (MERGE) as minimal copy-on-write — O(directories that
    * hold the incoming keys), never O(table). Three phases per commit:
    *
    *   1. '''Prune''': a data directory whose committed [min,max] on ANY
    *      key column cannot intersect the batch's key range provably
    *      holds no match and is never read (the same manifest-stats layer
    *      [[pruneDirsForFilters]] reads for catalog scans, applied to the
    *      MERGE probe).
    *   2. '''Probe''': one semi-join scan of the surviving candidates
    *      attributes matching keys to commit directories
    *      (`input_file_name` captured AT the scan, before the join
    *      boundary). Only those directories rewrite, with their
    *      superseded rows anti-joined away — hive layout kept, stats from
    *      the rewrite's own job, blooms recomputed, as [[deleteWhere]]
    *      does; untouched directories carry VERBATIM.
    *   3. '''Append''': the whole batch lands as ONE new directory
    *      (replacement rows and genuinely-new keys together — the
    *      anti-join already removed every old copy, so no second probe
    *      distinguishes them); its write's row count tells a no-op apart.
    *
    * A daily CDC batch against a 100 TB table therefore rewrites the few
    * directories its keys live in (with time-clustered ingest + key
    * stats, usually a handful), not the table — the reference's own
    * MERGE load loop is per-table incremental for the same reason
    * (`parser/xml.py:652`). Schema evolution matches
    * [[appendCommit]]: the committed schema is the union-by-name of
    * prior and batch schemas; a batch may omit columns (its rows read
    * back null there) or add them (survivors read back null). Txn
    * watermarks carry. Publishes optimistically (expectedBase-gated
    * read-modify-write; a lost race re-probes against the new snapshot).
    */
  def upsert(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      keys: Seq[String],
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      txn: Option[(String, Long)] = None,
      probeKeys: Option[DataFrame] = None,
      changeArtifact: Boolean = true,
      sortWithin: Seq[String] = Nil,
      // awaited before the first side effect AND before every successful
      // return: callers park read-only refusal probes here (SQL MERGE's
      // dup/null-key gates via [[backgroundGate]]) so they overlap the
      // key-range aggregation and manifest reads instead of running ahead
      // of them serially. Must be idempotent (re-invoked per conflict
      // retry) and must contain NO side effects of its own.
      preWriteGate: () => Unit = NoGate): Long = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(keys.forall(updates.columns.contains),
      s"updates missing key columns: ${keys.filterNot(updates.columns.contains).mkString(", ")}")
    probeKeys.foreach(p => require(keys.forall(p.columns.contains),
      s"probeKeys missing key columns: ${keys.filterNot(p.columns.contains).mkString(", ")}"))
    LakeConstraints.enforce(spark, tableDir, updates, "upsert")
    LakeConstraints.enforceFk(spark, tableDir, updates, "upsert")
    requireUniqueCompatibleKeys(spark, tableDir, keys, "upsert")
    LakeConstraints.enforceUnique(spark, tableDir, updates, None, "upsert")
    // probeKeys generalizes the replace set beyond the batch's own keys:
    // rows of probed keys NOT re-supplied by the batch are DELETED (the
    // conditional-MERGE delete shape — gate-failing rows of a key ride
    // the batch as survivors, gate-passing rows just vanish). Default:
    // the batch's keys, the classic upsert.
    //
    // The batch is this commit's DELTA — bounded by design — and feeds
    // every phase below: the key-range probe, the bloom probe, the CoW
    // anti-join per affected directory, the CDC classification, the
    // appended directory's write, and its stats/bloom aggregations.
    // Un-cached, each of those ~8 evaluations re-runs a possibly
    // join-heavy source plan (the SQL MERGE source is a target×source
    // join); serialized blocks spill to disk, released on return.
    // Callers that already persisted (MergePartialLakeCommand) are
    // detected via storageLevel and left alone.
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val cacheBatch = updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (cacheBatch) updates.persist(ser)
    val cacheProbe = probeKeys.exists(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    if (cacheProbe) probeKeys.foreach(_.persist(ser))
    try {
    val keyDf = probeKeys.getOrElse(updates).select(keys.map(col): _*)
    val ranges = phase(spark, "upsert: key ranges")(keyRanges(keyDf, keys))
    retryOnConflict(maxAttempts = 8) {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      // exactly-once gate (see appendCommitTxn): a replayed maintenance
      // batch whose commit landed must not merge its rows twice. The
      // replay no-op still awaits the gate: a refused statement
      // (duplicate matched keys) must fail even when its write would
      // have been an exactly-once no-op
      if (alreadyCommitted(spark, tableDir, base, txn)) { preWriteGate(); return base }
      requireNoEqDeletes(spark, tableDir, base, "upsert")
      // last point before side effects: the caller's refusal probes must
      // have passed before keyedRewrite writes its first replacement dir.
      // Error precedence: the table-constraint checks at the top (CHECK,
      // FOREIGN KEY, UNIQUE) and the MoR refusal run first, so a SQL MERGE
      // that both matches duplicate keys and violates a constraint reports
      // the constraint (LakeDmlRulesSpec pins it); the gate's own refusals
      // report in the order the caller awaits them.
      preWriteGate()
      val kr = phase(spark, "upsert: probe+rewrite")(
        keyedRewrite(spark, tableDir, base, keyDf, keys, ranges, maxRecordsPerFile))
      // ON DELETE RESTRICT (parent side): a keyed upsert REMOVES a parent
      // key when the matched pre-images carried it and neither the batch
      // nor the probeKeys-surviving rows re-supply it — a rekey or a
      // probed delete. Matched pre-images = the affected dirs semi-joined
      // on the probe keys; retained = the batch (untouched rows of
      // affected dirs never left). Zero cost without a restrict decl.
      if (kr.rewritten.nonEmpty &&
        LakeConstraints.restrictsOf(spark, tableDir).nonEmpty) {
        // no distinct on the semi-join build side: semi-join semantics
        // dedup for free, and the explicit distinct only added a shuffle
        val pre = readDirs(spark, tableDir,
          kr.rewritten.keySet.toSeq.map(d => s"$tableDir/data/$d"), kr.schemaOpt)
          .join(keyDf, keys, "left_semi")
        LakeConstraints.enforceRestrict(spark, tableDir, pre, Some(updates), "upsert")
      }
      // CDC artifact: pre-images are the matched rows of the affected
      // directories (the same rows the rewrite just removed), split into
      // update_preimage (key re-supplied by the batch) vs delete (key
      // probed but not re-supplied — the probeKeys shape); batch rows
      // split into post-images and inserts. O(matched + batch), the
      // commit's own delta. Classification is key-granular: a key with
      // both surviving and vanishing rows reports all its pre-images as
      // update_preimage — replay (remove pre, add post) stays exact.
      // the per-call parameter AND the table-level `cdc.artifacts`
      // property both gate the artifact (SQL DML has no per-call knob)
      val cdcTask: () => Option[String] = () => if (!changeArtifact ||
        !LakeProps.cdcArtifacts(spark, tableDir)) None else Some {
        val affected = kr.rewritten.keySet
        if (affected.isEmpty)
          writeChangesDir(updates.withColumn("_change_type", lit("insert")), tableDir)
        else {
          // matched pre-images: bounded by the affected directories'
          // rows with probed keys — the same population the rewrite
          // just removed. Persisted because it feeds BOTH its own
          // classified branch and the matchedKeys set below; un-cached
          // it would re-run the directory scan + semi-join twice.
          val pre = readDirs(spark, tableDir,
            affected.toSeq.map(d => s"$tableDir/data/$d"), kr.schemaOpt)
            .join(keyDf, keys, "left_semi")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          // NO broadcast hints: batchKeys/matchedKeys are the distinct
          // key set of the whole upsert batch — unbounded on this bulk
          // CoW path (unlike the MoR delete-key sets, which are deltas
          // by design). A forced broadcast of a 10M-key batch would
          // OOM the driver or trip the 8 GB broadcast hard limit AFTER
          // the rewrite work is done; AQE broadcasts at runtime when
          // the set really is small — the same discipline as the
          // keyedRewrite probe's un-hinted joins.
          //
          // ONE left join classifies each side (key present → one type,
          // absent → the other) where the previous shape paid a semi
          // AND an anti pass per side — half the joins, and `pre` /
          // `updates` each evaluate once per branch instead of twice.
          // The explicit select pins the written column order to the
          // pre-existing artifact layout (source columns then
          // _change_type).
          val batchKeys = updates.select(keys.map(col): _*).distinct()
            .withColumn("_graft_in_batch", lit(true))
          val matchedKeys = pre.select(keys.map(col): _*).distinct()
            .withColumn("_graft_matched", lit(true))
          val preCols = pre.columns
          val preClassified = pre.join(batchKeys, keys, "left")
            .withColumn("_change_type",
              when(col("_graft_in_batch"), lit("update_preimage"))
                .otherwise(lit("delete")))
            .select((preCols.map(col) :+ col("_change_type")).toIndexedSeq: _*)
          val updCols = updates.columns
          val postClassified = updates.join(matchedKeys, keys, "left")
            .withColumn("_change_type",
              when(col("_graft_matched"), lit("update_postimage"))
                .otherwise(lit("insert")))
            .select((updCols.map(col) :+ col("_change_type")).toIndexedSeq: _*)
          val name = writeChangesDir(
            preClassified.unionByName(postClassified, allowMissingColumns = true),
            tableDir)
          pre.unpersist(blocking = false)
          name
        }
      }
      // phase 3 — the batch is one new directory carrying the declared
      // layers; an empty batch (the probeKeys delete shape) appends none
      val (updStatCols, updBloom) = continuedLayers(spark, tableDir, base, updates.columns.toSeq)
      val appendTask: () => (Option[Written], Option[(String, String)]) = () =>
        writeDataDirNonEmpty(updates, tableDir, parts, maxRecordsPerFile,
            sortWithin = sortWithin, statsCols = updStatCols)
          .fold[(Option[Written], Option[(String, String)])]((None, None))(w =>
            (Some(w), bloomJson(updates, updBloom).map(w.dir -> _)))
      // rewritten dirs' stats came with their writes; only a bloom layer
      // re-reads one
      val rewriteStatsTask: () => RewriteLayers = () =>
        rewriteLayers(spark, tableDir, kr.schemaOpt, kr.priorBlooms, kr.rewritten)
      // the three post-rewrite phases touch disjoint inputs (immutable
      // committed dirs, the cached batch) and disjoint outputs (changes
      // dir, data dir, driver-side maps) — run them concurrently (§2.6)
      // instead of serially idling the pool through each driver phase
      val results = inParallel[Any](spark, Seq(
        "upsert: cdc artifact" -> (() => cdcTask()),
        "upsert: append+stats" -> (() => appendTask()),
        "upsert: rewrite stats" -> (() => rewriteStatsTask())))
      val changesName = results(0).asInstanceOf[Option[String]]
      val (appended, updBloomOpt) = results(1)
        .asInstanceOf[(Option[Written], Option[(String, String)])]
      val cow = results(2).asInstanceOf[RewriteLayers]
      // steady-state no-op: nothing rewritten AND nothing appended —
      // publishing a version for a no-match empty batch would grow the
      // manifest per idempotent call; its unreferenced artifact goes
      if (kr.rewritten.isEmpty && appended.isEmpty) {
        changesName.foreach(n =>
          scala.util.Try(fs(spark, tableDir).delete(
            new org.apache.hadoop.fs.Path(s"$tableDir/changes/$n"), true)))
        return base
      }
      val newDirs = kr.survivingDirs ++ appended.map(_.dir)
      val merged = mergeSchemas(kr.priorSchema, nullableAll(updates.schema))
      if (newDirs.isEmpty) {
        // the probeKeys delete shape emptied the table: publish a
        // readable empty snapshot (the deleteKeys contract)
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), kr.priorSchema)
          .repartition(1)
        val d = writeDataDir(empty, tableDir, Nil, maxRecordsPerFile).dir
        publishManifest(spark, tableDir, Seq(d), merged,
          expectedBase = Some(Some(base)), txn = txn,
          op = "upsert", changes = changesName)
      } else
        publishManifest(spark, tableDir, newDirs, merged,
          cow.stats ++ appended.fold(Map.empty[String, String])(_.statsBy),
          cow.blooms ++ updBloomOpt.toMap,
          expectedBase = Some(Some(base)), txn = txn, op = "upsert",
          changes = changesName, ndv = cow.ndv ++ appended.fold(Map.empty[String, String])(_.ndvBy))
    }
    } finally {
      // release the phase-shared caches; early `return base` paths
      // (exactly-once watermark, steady-state no-op) unwind through here
      if (cacheBatch) updates.unpersist(blocking = false)
      if (cacheProbe) probeKeys.foreach(_.unpersist(blocking = false))
    }
  }

  /** MERGE-ON-READ upsert — the true O(delta) CDC steady state, with
    * ZERO data rewritten: one equality-delete file (the batch's keys,
    * scoped to the directories published before this commit) plus one
    * appended data directory, published in ONE atomic manifest — the
    * delete can never be visible without its replacement rows or vice
    * versa. Readers see old-version rows with matching keys anti-joined
    * away and the batch's rows in full; the append directory sits
    * OUTSIDE the delete's scope, so the new values survive by
    * construction (the same scope rule [[appendCommitInternal]] relies
    * on for re-inserts). Where [[upsert]] pays O(affected directories)
    * rewrite for a read-clean table, this pays O(batch) at write and a
    * broadcast anti-join at read — Iceberg's v2 position/equality-delete
    * bargain — and [[materializeDeletes]] (or the compaction cadence)
    * folds the debt back into clean directories. Concurrency: a racing
    * append that wins re-bases this publish; its directory then falls
    * inside the delete scope, which is exactly last-writer-wins at
    * version order. `txn` gates exactly-once like [[appendCommitTxn]].
    */
  def upsertMor(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      keys: Seq[String],
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty, "upsertMor needs at least one key column")
    require(keys.forall(updates.columns.contains),
      s"updates missing key columns: ${keys.filterNot(updates.columns.contains).mkString(", ")}")
    // the batch feeds the typed-key distinct, the delta write (which
    // computes its stats), any bloom aggregation and constraint probes:
    // persist the bounded delta once, released in the finally below
    val cacheBatch = updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (cacheBatch)
      updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
    LakeConstraints.enforce(spark, tableDir, updates, "upsertMor")
    LakeConstraints.enforceFk(spark, tableDir, updates, "upsertMor")
    requireUniqueCompatibleKeys(spark, tableDir, keys, "upsertMor")
    LakeConstraints.enforceUnique(spark, tableDir, updates, None, "upsertMor")
    val base0 = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val committed = versionSchema(spark, tableDir, base0)
      .getOrElse(nullableAll(readVersion(spark, tableDir, base0).schema))
    keys.foreach(k => require(committed.fieldNames.contains(k),
      s"upsert key '$k' is not a committed column of $tableDir"))
    // fast path for replays BEFORE paying the delta writes
    if (alreadyCommitted(spark, tableDir, base0, txn)) return base0
    // both delta artifacts written once; a lost publish race re-reads
    // the manifest, never re-writes data
    val typedKeys = updates.select(keys.map { k =>
      col(k).cast(committed(committed.fieldIndex(k)).dataType).as(k)
    }: _*).distinct()
    // ON DELETE RESTRICT (parent side): the MoR upsert's pre-images are
    // the CURRENT logical rows of the batch's keys (the eq-delete hides
    // them); keys the batch stops supplying must not still be referenced.
    // Probed against only the key-range-overlapping directories, BEFORE
    // the delete/data artifacts are paid. Zero cost without a decl.
    if (LakeConstraints.restrictsOf(spark, tableDir).nonEmpty) {
      val candidates = pruneCandidates(spark, tableDir, base0, typedKeys, keys)
      if (candidates.nonEmpty) {
        val pre = readDirsWithDeletes(spark, tableDir, base0, candidates,
          Some(committed)).join(typedKeys, keys, "left_semi")
        LakeConstraints.enforceRestrict(spark, tableDir, pre, Some(updates), "upsertMor")
      }
    }
    val delName = java.util.UUID.randomUUID().toString
    typedKeys.write.mode("error").parquet(s"$tableDir/deletes/$delName")
    // the layers base0 declares continue onto the batch (a racing commit
    // declaring others changes only which the new directory carries)
    val (statCols, bloomCfg) = continuedLayers(spark, tableDir, base0, updates.columns.toSeq)
    val upd = writeDataDir(updates, tableDir, parts, maxRecordsPerFile, statsCols = statCols)
    val updBloom = bloomJson(updates, bloomCfg).map(upd.dir -> _).toMap
    retryOnConflict() {
      val cur = currentVersion(spark, tableDir).get
      if (alreadyCommitted(spark, tableDir, cur, txn)) return cur
      val dirs = manifest(spark, tableDir, cur)
      val priorSchema = versionSchema(spark, tableDir, cur).getOrElse(committed)
      val merged = mergeSchemas(priorSchema, nullableAll(updates.schema))
      publishManifest(spark, tableDir, dirs :+ upd.dir, merged, upd.statsBy, updBloom,
        expectedBase = Some(Some(cur)), txn = txn,
        eqdeletes = dirEqDeletes(spark, tableDir, cur) :+ EqDelete(delName, keys, dirs),
        op = "upsert_mor",
        ndv = upd.ndvBy)
    }
    } finally if (cacheBatch) updates.unpersist(blocking = false)
  }

  /** Keyed DELETE — remove every row whose key appears in `keyDf` — with
    * the same minimal copy-on-write machinery as [[upsert]] minus the
    * append: stats-pruned probe, rewrite only the directories that hold
    * matching keys, carry everything else verbatim. The join-shaped
    * sibling of the predicate-shaped [[deleteWhere]], for callers whose
    * "what to delete" is a DataFrame of keys (index maintenance, GDPR id
    * lists) rather than an expression. `txn` gates exactly-once like
    * [[appendCommitTxn]].
    */
  def deleteKeys(
      spark: SparkSession,
      tableDir: String,
      keyDf0: DataFrame,
      keys: Seq[String],
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      txn: Option[(String, Long)] = None,
      changeArtifact: Boolean = true): Long = {
    require(keys.nonEmpty, "deleteKeys needs at least one key column")
    require(keys.forall(keyDf0.columns.contains),
      s"keyDf missing key columns: ${keys.filterNot(keyDf0.columns.contains).mkString(", ")}")
    // the key set feeds the range probe, the bloom probe, the per-dir
    // anti-joins and the CDC semi-join — persist once (bounded: it is
    // the delete delta), released in the finally below
    val keyDf = keyDf0.select(keys.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
    val ranges = keyRanges(keyDf, keys)
    retryOnConflict(maxAttempts = 8) {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      if (alreadyCommitted(spark, tableDir, base, txn)) return base
      requireNoEqDeletes(spark, tableDir, base, "deleteKeys")
      val kr = keyedRewrite(spark, tableDir, base, keyDf, keys, ranges, maxRecordsPerFile)
      val newDirs = kr.survivingDirs
      // CDC artifact: the deleted rows ARE the matched pre-images of the
      // affected directories
      val changesName = if (!changeArtifact ||
        !LakeProps.cdcArtifacts(spark, tableDir)) None else Some {
        val affected = kr.rewritten.keySet
        val frame =
          if (affected.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](), kr.priorSchema)
              .withColumn("_change_type", lit("delete"))
          else readDirs(spark, tableDir,
            affected.toSeq.map(d => s"$tableDir/data/$d"), kr.schemaOpt)
            // semi-join dedups for free; distinct only added a shuffle
            .join(keyDf, keys, "left_semi")
            .withColumn("_change_type", lit("delete"))
        writeChangesDir(frame, tableDir)
      }
      if (newDirs.isEmpty) {
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), kr.priorSchema)
          .repartition(1)
        val d = writeDataDir(empty, tableDir, Nil, maxRecordsPerFile).dir
        publishManifest(spark, tableDir, Seq(d), kr.priorSchema,
          expectedBase = Some(Some(base)), txn = txn,
          op = "delete_keys", changes = changesName)
      } else {
        val cow = rewriteLayers(spark, tableDir, kr.schemaOpt, kr.priorBlooms, kr.rewritten)
        publishManifest(spark, tableDir, newDirs, kr.priorSchema, cow.stats, cow.blooms,
          expectedBase = Some(Some(base)), txn = txn, op = "delete_keys",
          changes = changesName, ndv = cow.ndv)
      }
    }
    } finally keyDf.unpersist(blocking = false)
  }

  /** Keyed DELETE as MERGE-ON-READ: O(delta) write, zero data rewrite.
    * The key set lands as one parquet delete file under `table/deletes/`
    * and the commit is a manifest republish — same directories, same
    * stats/blooms, plus one [[EqDeleteHeader]] line scoping the
    * delete to the directories published AT COMMIT TIME. Readers
    * ([[read]], [[readVersion]], the catalog scans) anti-join the keys
    * onto scans of scoped directories only, so a key re-inserted by a LATER append is
    * visible again — the semantics of SQL `DELETE; INSERT` replayed in
    * commit order. Prior versions time-travel to the pre-delete rows.
    *
    * The trade against the copy-on-write [[deleteKeys]]: commit cost
    * O(keys) instead of O(affected directories), read cost one broadcast
    * anti-join per pending delete file until [[materializeDeletes]] (or
    * any [[optimize]]) folds them in. The GDPR steady state at 100 TB:
    * hourly MoR deletes commit in seconds, one daily materialization
    * pays the directory rewrites once for all of them. Key columns are
    * cast to the table's committed types at write time so writer and
    * readers anti-join on identical types; rows whose key is NULL never
    * match (SQL equality), as with any equality delete. `txn` gates
    * exactly-once like [[appendCommitTxn]].
    */
  def deleteKeysMor(
      spark: SparkSession,
      tableDir: String,
      keyDf0: DataFrame,
      keys: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty, "deleteKeysMor needs at least one key column")
    require(keys.forall(keyDf0.columns.contains),
      s"keyDf missing key columns: ${keys.filterNot(keyDf0.columns.contains).mkString(", ")}")
    val base0 = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val committed = versionSchema(spark, tableDir, base0)
      .getOrElse(nullableAll(readVersion(spark, tableDir, base0).schema))
    keys.foreach(k => require(committed.fieldNames.contains(k),
      s"delete key '$k' is not a committed column of $tableDir"))
    val typed = keyDf0.select(keys.map { k =>
      col(k).cast(committed(committed.fieldIndex(k)).dataType).as(k)
    }: _*).distinct()
    // the expensive part (delta-sized) happens once; losing the publish
    // race only re-reads the manifest
    val name = java.util.UUID.randomUUID().toString
    typed.write.mode("error").parquet(s"$tableDir/deletes/$name")
    retryOnConflict() {
      val cur = currentVersion(spark, tableDir).get
      if (alreadyCommitted(spark, tableDir, cur, txn)) return cur
      val dirs = manifest(spark, tableDir, cur)
      val schema = versionSchema(spark, tableDir, cur).getOrElse(committed)
      publishManifest(spark, tableDir, dirs, schema,
        expectedBase = Some(Some(cur)), txn = txn,
        eqdeletes = dirEqDeletes(spark, tableDir, cur) :+ EqDelete(name, keys, dirs),
        op = "delete_mor")
    }
  }

  /** Fold every pending merge-on-read delete into the data — the
    * compaction half of the [[deleteKeysMor]] bargain, on the MINIMAL
    * directory set: one semi-join probe per delete file attributes its
    * keys to the directories that actually hold matches (of the scoped
    * set — a scoped directory with no matching key carries verbatim),
    * only those rewrite with all their applicable deletes anti-joined
    * away, and the new manifest drops every eqdelete line. Read plans
    * return to plain scans; the orphaned delete files reclaim via
    * [[vacuum]] after retention. Run on the compaction cadence — or let
    * an ordinary [[optimize]] do it, which rewrites everything anyway
    * and drops the lines for the same reason.
    */
  def materializeDeletes(
      spark: SparkSession,
      tableDir: String,
      maxRecordsPerFile: Long = 8L * 1000 * 1000): Long =
    retryOnConflict(maxAttempts = 8) {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      val dels = dirEqDeletes(spark, tableDir, base)
      if (dels.isEmpty) return base
      val dirs = manifest(spark, tableDir, base)
      val schemaOpt = versionSchema(spark, tableDir, base)
      val priorSchema = schemaOpt
        .getOrElse(nullableAll(readVersion(spark, tableDir, base).schema))
      def delKeys(e: EqDelete) = readParquet(spark, s"$tableDir/deletes/${e.dir}")
      // which scoped directories actually hold matching keys? one probe
      // per delete file; the collect is bounded by the file count
      val affected: Set[String] = dels.flatMap { e =>
        val scoped = e.dirs.filter(dirs.contains)
        if (scoped.isEmpty) Nil
        else readDirs(spark, tableDir, scoped.map(d => s"$tableDir/data/$d"), schemaOpt,
          withPos = isPosDelete(e))
          .withColumn("_graft_file", input_file_name())
          .join(delKeys(e), e.keys, "left_semi")
          .select("_graft_file").distinct().collect()
          .map(_.getString(0))
          .flatMap(f => scoped.find(d => f.contains(s"/$d/")))
      }.toSet
      val priorStats = dirStats(spark, tableDir, base)
      val rewritten: Map[String, Option[Written]] = affected.map { d =>
        val es = dels.filter(_.dirs.contains(d))
        val needPos = es.exists(isPosDelete)
        val folded = es.foldLeft(
          readDirs(spark, tableDir, Seq(s"$tableDir/data/$d"), schemaOpt,
            withPos = needPos)) {
          (acc, e) => acc.join(broadcast(delKeys(e)), e.keys, "left_anti")
        }
        val survivors = if (needPos) folded.drop(PosDeleteKeys: _*) else folded
        d -> writeDataDirNonEmpty(survivors, tableDir,
          rewriteParts(spark, tableDir, d, schemaOpt), maxRecordsPerFile,
          statsCols = priorStats.get(d).map(_.keys.toSeq.sorted).getOrElse(Nil))
      }.toMap
      val newDirs = dirs.flatMap(d => rewritten.get(d).fold(Option(d))(_.map(_.dir)))
      if (newDirs.isEmpty) {
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), priorSchema)
          .repartition(1)
        val d = writeDataDir(empty, tableDir, Nil, maxRecordsPerFile).dir
        publishManifest(spark, tableDir, Seq(d), priorSchema,
          expectedBase = Some(Some(base)), op = "materialize")
      } else {
        val cow = rewriteLayers(spark, tableDir, schemaOpt, dirBlooms(spark, tableDir, base),
          rewritten)
        publishManifest(spark, tableDir, newDirs, priorSchema, cow.stats, cow.blooms,
          expectedBase = Some(Some(base)), op = "materialize", ndv = cow.ndv)
      }
    }

  /** Keyed/predicate rewrites re-distribute rows across directories,
    * which would break the pinned directory scopes of pending
    * merge-on-read deletes (a rewritten directory gets a fresh name
    * outside every scope — its still-deleted rows would resurrect).
    * Rather than silently corrupt, they demand materialization first.
    */
  private def requireNoEqDeletes(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      op: String): Unit =
    require(dirEqDeletes(spark, tableDir, version).isEmpty,
      s"$tableDir v=$version has pending merge-on-read deletes; run " +
        s"materializeDeletes() (or optimize()) before $op")

  /** The batch's per-key-column (min, max) as external values (None =
    * every key null) — ONE O(delta) aggregation, reused across retries.
    */
  private def keyRanges(keyDf: DataFrame, keys: Seq[String]): Map[String, Option[(Any, Any)]] = {
    val aggs = keys.flatMap(c => Seq(min(col(c)), max(col(c))))
    val row = keyDf.agg(aggs.head, aggs.tail: _*).head()
    keys.zipWithIndex.map { case (c, i) =>
      c -> Option.when(!row.isNullAt(2 * i))((row.get(2 * i), row.get(2 * i + 1)))
    }.toMap
  }

  /** Phases 1-2 of a keyed copy-on-write, shared by [[upsert]] and
    * [[deleteKeys]]: prune the candidate directory set with committed
    * manifest stats, probe the survivors with one semi-join scan
    * (file → commit-dir attribution), and rewrite ONLY the directories
    * holding matching keys with those rows anti-joined away.
    */
  private final case class KeyedRewrite(
      dirs: Seq[String],
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      priorSchema: org.apache.spark.sql.types.StructType,
      priorBlooms: Map[String, Map[String, (Int, Int, Array[Byte])]],
      rewritten: Map[String, Option[Written]]) {
    def survivingDirs: Seq[String] =
      dirs.flatMap(d => rewritten.get(d).fold(Option(d))(_.map(_.dir)))
  }

  /** Phase-1 candidate pruning for a keyed copy-on-write, spec-visible:
    * committed manifest STATS drop directories whose [min,max] on any
    * key column cannot intersect the batch's key range, then committed
    * BLOOMS drop directories that provably hold none of the batch's
    * keys — the layer that fires on high-cardinality interleaved keys
    * (uuid/doc_id CDC batches) where every directory's range spans the
    * domain and stats prune nothing.
    */
  private[graft] def pruneCandidates(
      spark: SparkSession,
      tableDir: String,
      base: Long,
      keyDf: DataFrame,
      keys: Seq[String]): Seq[String] = {
    val ranges = keyRanges(keyDf, keys)
    val dirs = manifest(spark, tableDir, base)
    val schemaOpt = versionSchema(spark, tableDir, base)
    val priorSchema = schemaOpt
      .getOrElse(nullableAll(readVersion(spark, tableDir, base).schema))
    pruneCandidatesImpl(spark, tableDir, base, keyDf, keys, ranges, dirs, priorSchema)
  }

  private def pruneCandidatesImpl(
      spark: SparkSession,
      tableDir: String,
      base: Long,
      keyDf: DataFrame,
      keys: Seq[String],
      ranges: Map[String, Option[(Any, Any)]],
      dirs: Seq[String],
      priorSchema: org.apache.spark.sql.types.StructType): Seq[String] = {
    val priorStats = dirStats(spark, tableDir, base)
    lazy val hists = dirHist(spark, tableDir, base)
    // the batch's key range in each key column's decoded domain
    val typedRanges = keys.map { c =>
      val dt = priorSchema.fields.find(_.name == c)
        .fold[org.apache.spark.sql.types.DataType](org.apache.spark.sql.types.NullType)(_.dataType)
      (c, dt, ranges(c).map { case (mn, mx) =>
        LakeMetaAgg.literal(dt, mn).zip(LakeMetaAgg.literal(dt, mx))
      })
    }
    // stats layer: key equality never matches null, so an all-null
    // directory column or an all-null batch key column matches nothing
    val statsKept = dirs.filter { d =>
      typedRanges.forall { case (c, dt, batch) =>
        val dirRange = priorStats.get(d).flatMap(_.get(c))
          .flatMap(LakeMetaAgg.bounds(dt, _, hists.get(d).flatMap(_.get(c))))
        (dirRange, batch) match {
          case (Some(None), _) | (_, None) => false
          case (Some(Some((dMn, dMx))), Some(Some((uMn, uMx)))) =>
            LakeMetaAgg.compare(dMn, uMx) <= 0 && LakeMetaAgg.compare(uMn, dMx) <= 0
          case _ => true
        }
      }
    }
    bloomPruneCandidates(spark, tableDir, base, statsKept, keyDf, keys, priorSchema)
  }

  /** Bloom layer of the keyed-CoW candidate pruning: for every surviving
    * directory with a committed Bloom on a key column, ONE distributed
    * pass over the batch's distinct keys decides whether ANY key could
    * be present (all k bit positions set, AND-ed across bloom'd key
    * columns) — the filters travel as broadcast literals, the batch
    * never collects. Dirs with a provable miss drop before the probe
    * scan is planned. Bounded to 64 testable dirs (aggregate-plan
    * width); beyond that the probe scan's own pushdown takes over.
    */
  private def bloomPruneCandidates(
      spark: SparkSession,
      tableDir: String,
      base: Long,
      candidates: Seq[String],
      keyDf: DataFrame,
      keys: Seq[String],
      priorSchema: org.apache.spark.sql.types.StructType): Seq[String] = {
    val blooms = dirBlooms(spark, tableDir, base)
    val testable = candidates.filter(d =>
      blooms.get(d).exists(cols => keys.exists(cols.contains)))
    if (testable.isEmpty || testable.size > 64) return candidates
    // bit p lives at bytes(p>>3) bit (p&7); little-endian 8-byte packing
    // puts it at word(p>>6) bit (p&63)
    def words(bytes: Array[Byte]): Seq[Long] =
      bytes.grouped(8).map { g =>
        var w = 0L
        var j = 0
        while (j < g.length) { w |= (g(j) & 0xffL) << (8 * j); j += 1 }
        w
      }.toSeq
    def mightContain(c: String, m: Int, k: Int, bytes: Array[Byte]): Column = {
      val dt = priorSchema.fields.find(_.name == c).map(_.dataType)
      val typed = dt.map(t => col(c).cast(t)).getOrElse(col(c))
      col(c).isNotNull && forall(bloomPositions(typed, m, k), p =>
        call_function("shiftrightunsigned",
          element_at(typedLit(words(bytes)), (p / 64).cast("int") + 1),
          pmod(p, lit(64L)).cast("int")).bitwiseAND(lit(1L)) === lit(1L))
    }
    val aggs = testable.map { d =>
      val perCol = blooms(d).collect {
        case (c, (m, k, bytes)) if keys.contains(c) => mightContain(c, m, k, bytes)
      }
      max(when(perCol.reduce(_ && _), 1).otherwise(0))
    }
    // no distinct: max(when(...)) is duplicate-insensitive, and the
    // explicit distinct only added a full shuffle of the key set before
    // an aggregation that map-side-combines anyway
    val row = keyDf.agg(aggs.head, aggs.tail: _*).head()
    val possible = testable.zipWithIndex.collect {
      case (d, i) if !row.isNullAt(i) && row.getInt(i) == 1 => d
    }.toSet
    candidates.filter(d => !testable.contains(d) || possible(d))
  }

  private def keyedRewrite(
      spark: SparkSession,
      tableDir: String,
      base: Long,
      keyDf: DataFrame,
      keys: Seq[String],
      ranges: Map[String, Option[(Any, Any)]],
      maxRecordsPerFile: Long): KeyedRewrite = {
    val dirs = manifest(spark, tableDir, base)
    val schemaOpt = versionSchema(spark, tableDir, base)
    val priorSchema = schemaOpt
      .getOrElse(nullableAll(readVersion(spark, tableDir, base).schema))
    val priorStats = dirStats(spark, tableDir, base)
    val candidates =
      pruneCandidatesImpl(spark, tableDir, base, keyDf, keys, ranges, dirs, priorSchema)
    // phase 2 — probe: which candidates actually hold matching keys
    // (file → commit-dir attribution; collect bounded by the file count)
    val affected: Set[String] =
      if (candidates.isEmpty) Set.empty
      else phase(spark, "keyedRewrite: probe")(
        readDirs(spark, tableDir, candidates.map(d => s"$tableDir/data/$d"), schemaOpt)
        .withColumn("_graft_file", input_file_name())
        // no distinct on the build side: semi-join semantics dedup for
        // free; the distinct only added a shuffle before the probe
        .join(keyDf, keys, "left_semi")
        .select("_graft_file")
        .distinct()
        .collect()
        .map(_.getString(0))
        .flatMap(f => candidates.find(d => f.contains(s"/$d/")))
        .toSet)
    // write-then-count: one query execution per directory where
    // isEmpty-then-write paid two, and the rewrite's stats are its
    // observed metrics. Directory rewrites are independent of each other
    // — run them concurrently (§2.6) so one rewrite's driver phase
    // overlaps another's tasks.
    val rewritten: Map[String, Option[Written]] =
      inParallel(spark, affected.toSeq.map { d =>
        s"keyedRewrite: rewrite $d" -> (() => {
          val survivors = readDirs(spark, tableDir, Seq(s"$tableDir/data/$d"), schemaOpt)
            .join(keyDf, keys, "left_anti")
          d -> writeDataDirNonEmpty(survivors, tableDir,
            rewriteParts(spark, tableDir, d, schemaOpt), maxRecordsPerFile,
            statsCols = priorStats.get(d).map(_.keys.toSeq.sorted).getOrElse(Nil))
        })
      }).toMap
    KeyedRewrite(dirs, schemaOpt, priorSchema, dirBlooms(spark, tableDir, base), rewritten)
  }

  /** Row-level DELETE as copy-on-write on the MINIMAL directory set: one
    * pushdown-filtered scan of the snapshot discovers which data
    * directories actually contain matching rows (`input_file_name`
    * attribution — manifest stats/partition pruning and parquet
    * row-group stats all apply to this probe), and ONLY those
    * directories are rewritten without their matches; every other
    * directory is carried into the new manifest verbatim, stats and
    * blooms untouched. At 100 TB with time-clustered commits, deleting a
    * user's rows or a bad ingest day rewrites the few directories that
    * hold them, not the table. Rewrites recompute stats/blooms for the
    * columns the old directory carried; a directory emptied by the
    * delete drops out of the manifest. Rows where `predicate` is NULL
    * are KEPT (SQL DELETE semantics: only provably-true rows go).
    * Publishes optimistically like every commit; prior versions remain
    * time-travelable until vacuum.
    */
  def deleteWhere(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      changeArtifact: Boolean = true): Long = {
    val keepRow = !coalesce(predicate, lit(false))
    copyOnWrite(spark, tableDir, predicate, _.filter(keepRow), maxRecordsPerFile,
      op = "delete_where",
      changesOf = _.withColumn("_change_type", lit("delete")),
      changeArtifact = changeArtifact)
  }

  /** MERGE-ON-READ predicate delete — the KEYLESS O(delta) delete:
    * where [[deleteWhere]] rewrites every directory holding a match (a
    * scattered predicate on a 100 TB table approaches a full rewrite),
    * this writes ONE POSITION-DELETE file — the matched rows'
    * `(_pos_file, _pos_row)` physical identities off the scan's own
    * `_metadata` columns — and publishes it as a pending delete scoped
    * to the current directories, ZERO data rewritten (Iceberg v2
    * position deletes / Delta deletion vectors). Readers anti-join on
    * the attached position identity; rows appended after the commit are
    * outside the scope by construction. Needs no key columns at all —
    * the position IS the identity — so it serves exactly the tables
    * equality deletes cannot (no unique key, duplicate rows legal:
    * only the matched physical rows vanish).
    *
    * The matched set is evaluated over the CURRENT logical rows (prior
    * pending deletes applied — an already-deleted row cannot re-match,
    * so the CDC artifact reports exactly the newly-deleted rows). Same
    * debts as every MoR commit: reads pay a broadcast anti-join until
    * [[materializeDeletes]]/[[optimize]] folds the file, keyed/predicate
    * CoW rewrites refuse while it is pending, and the catalog scan
    * routes through the library read. Stats and row counts carry
    * verbatim (they become conservative over-approximations, like any
    * MoR commit). `txn` gates exactly-once like [[appendCommitTxn]];
    * a no-match delete commits nothing (metadata-only watermark when
    * `txn` is given).
    */
  def deleteWhereMor(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      txn: Option[(String, Long)] = None): Long =
    retryOnConflict() {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      if (alreadyCommitted(spark, tableDir, base, txn)) return base
      val dirs = manifest(spark, tableDir, base)
      val schemaOpt = versionSchema(spark, tableDir, base)
      val schema = schemaOpt
        .getOrElse(nullableAll(readVersion(spark, tableDir, base).schema))
      val matched = readDirsWithDeletes(spark, tableDir, base, dirs, schemaOpt,
        keepPos = true)
        .filter(coalesce(predicate, lit(false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        if (matched.isEmpty) {
          txn.foreach { case (app, b) =>
            return commitTxnWatermark(spark, tableDir, app, b)
          }
          return base
        }
        // ON DELETE RESTRICT: a pure delete re-supplies nothing, so every
        // matched key counts as leaving (the documented duplicate-key
        // conservatism — unmatched copies elsewhere do not excuse)
        LakeConstraints.enforceRestrict(spark, tableDir,
          matched.drop(PosDeleteKeys: _*), None, "delete_where_mor")
        val delName = java.util.UUID.randomUUID().toString
        matched.select(PosDeleteKeys.map(col): _*)
          .write.mode("error").parquet(s"$tableDir/deletes/$delName")
        // the matched scan already ran (persisted): its per-directory
        // tally is one cheap aggregate, and it keeps count(*)
        // metadata-only while this delete is pending — positions are
        // disjoint from earlier pending deletes by construction (the
        // matched read applied them), so the counts sum exactly
        val delCounts = posDeleteCounts(matched)
        // the commit-time artifact IS the CDC story for this op (the
        // feed's reconstruction path is keyed; positions are physical) —
        // with artifacts opted out, the feed refuses the window loudly
        val changesName =
          if (!LakeProps.cdcArtifacts(spark, tableDir)) None
          else Some(writeChangesDir(
            matched.drop(PosDeleteKeys: _*).withColumn("_change_type", lit("delete")),
            tableDir))
        publishManifest(spark, tableDir, dirs, schema,
          expectedBase = Some(Some(base)), txn = txn,
          eqdeletes = dirEqDeletes(spark, tableDir, base) :+
            EqDelete(delName, PosDeleteKeys, dirs, delCounts),
          op = "delete_where_mor",
          changes = changesName)
      } finally matched.unpersist(blocking = false): Unit
    }

  /** ATOMIC REPLACE-WHERE — `INSERT OVERWRITE ... PARTITION(...)` /
    * Delta `replaceWhere`: rows matching `predicate` vanish and `data`
    * lands, in ONE commit. The deletion pays the minimal-CoW price
    * (only directories holding matching rows rewrite — a partition
    * backfill on a 100 TB table rewrites that partition's directories,
    * nothing else), the batch appends as one more directory under the
    * table's hive layout with the declared skipping layers continued,
    * and readers never see the half-applied state a deleteWhere +
    * appendCommit pair would expose between its two versions. The CDC
    * artifact carries the full delta (matched pre-images as deletes,
    * the batch as inserts). The caller owns the predicate/batch
    * contract: rows of `data` OUTSIDE `predicate` still land (SQL's
    * INSERT OVERWRITE semantics — the predicate scopes the delete).
    */
  def replaceWhere(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      data: DataFrame,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      changeArtifact: Boolean = true): Long = {
    LakeConstraints.enforce(spark, tableDir, data, "replaceWhere")
    LakeConstraints.enforceFk(spark, tableDir, data, "replaceWhere")
    // the batch feeds up to three evaluations (the data write, which
    // computes its stats, the bloom agg and the CDC-artifact union) plus
    // any constraint probes: persist it once — unless the
    // caller already did (the dynamic-overwrite command persists for its
    // own tuple probe)
    val cached = data.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val df =
      if (cached)
        data.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else data
    try {
      val keepRow = !coalesce(predicate, lit(false))
      copyOnWrite(spark, tableDir, predicate, _.filter(keepRow), maxRecordsPerFile,
        op = "replace_where",
        changesOf = _.withColumn("_change_type", lit("delete")),
        changeArtifact = changeArtifact,
        appendDf = Some(df))
    } finally if (cached) df.unpersist(blocking = false): Unit
  }

  /** MERGE-ON-READ predicate UPDATE — [[deleteWhereMor]]'s read/write
    * bargain for updates: ONE position-delete file (the matched rows'
    * physical identities) plus ONE appended directory holding the
    * transformed rows, published in a single atomic commit with ZERO
    * existing data rewritten. The appended directory sits outside the
    * delete's pinned scope, so the new values are visible by
    * construction; a scattered predicate update on a 100 TB table costs
    * O(matched rows) instead of rewriting every affected directory.
    * Keyless like its delete twin — duplicate physical rows all update.
    * Assignments evaluate against the PRE-update row (SQL semantics,
    * one projection) and must keep the column's committed type. Debts
    * and guards are the MoR family's: broadcast anti-join at read until
    * [[materializeDeletes]]/[[optimize]] folds, CoW rewrites refuse
    * while pending, CDC rides the commit-time artifact
    * (update_preimage + update_postimage). `txn` gates exactly-once.
    */
  def updateWhereMor(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      assignments: Map[String, Column],
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      txn: Option[(String, Long)] = None): Long = {
    require(assignments.nonEmpty, "updateWhereMor needs at least one assignment")
    requireUniqueUntouched(spark, tableDir, assignments.keys, "updateWhereMor")
    enforceFkOnUpdate(spark, tableDir, predicate, assignments, "updateWhereMor")
    retryOnConflict() {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      if (alreadyCommitted(spark, tableDir, base, txn)) return base
      val dirs = manifest(spark, tableDir, base)
      val schemaOpt = versionSchema(spark, tableDir, base)
      val schema = schemaOpt
        .getOrElse(nullableAll(readVersion(spark, tableDir, base).schema))
      val matched = readDirsWithDeletes(spark, tableDir, base, dirs, schemaOpt,
        keepPos = true)
        .filter(coalesce(predicate, lit(false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        if (matched.isEmpty) {
          txn.foreach { case (app, b) =>
            return commitTxnWatermark(spark, tableDir, app, b)
          }
          return base
        }
        val dataCols = matched.columns.filterNot(PosDeleteKeys.contains).toSeq
        assignments.keys.foreach(c =>
          require(dataCols.contains(c), s"unknown column in assignment: $c"))
        // ONE projection over the pre-update rows (`SET a = b, b = a`
        // swaps) — every matched row updates, so no per-row gate
        val transformed = matched.select(dataCols.map { c =>
          assignments.get(c).fold(col(c))(_.as(c))
        }: _*)
        LakeConstraints.enforce(spark, tableDir, transformed, "updateWhereMor")
        // ON DELETE RESTRICT: an update removes exactly the keys its
        // post-image stops supplying (a non-key update removes none)
        LakeConstraints.enforceRestrict(spark, tableDir,
          matched.drop(PosDeleteKeys: _*), Some(transformed), "updateWhereMor")
        val delName = java.util.UUID.randomUUID().toString
        matched.select(PosDeleteKeys.map(col): _*)
          .write.mode("error").parquet(s"$tableDir/deletes/$delName")
        val (statCols, bloomCfg) = continuedLayers(spark, tableDir, base,
          transformed.columns.toSeq)
        val upd = writeDataDir(transformed, tableDir,
          declaredOrPhysicalParts(spark, tableDir, base), maxRecordsPerFile,
          statsCols = statCols)
        val changesName =
          if (!LakeProps.cdcArtifacts(spark, tableDir)) None
          else Some(writeChangesDir(
            matched.drop(PosDeleteKeys: _*)
              .withColumn("_change_type", lit("update_preimage"))
              .unionByName(transformed.withColumn("_change_type", lit("update_postimage"))),
            tableDir))
        publishManifest(spark, tableDir, dirs :+ upd.dir,
          mergeSchemas(schema, nullableAll(transformed.schema)), upd.statsBy,
          bloomJson(transformed, bloomCfg).map(upd.dir -> _).toMap,
          expectedBase = Some(Some(base)), txn = txn,
          eqdeletes = dirEqDeletes(spark, tableDir, base) :+
            EqDelete(delName, PosDeleteKeys, dirs, posDeleteCounts(matched)),
          op = "update_where_mor",
          changes = changesName,
          ndv = upd.ndvBy)
      } finally matched.unpersist(blocking = false): Unit
    }
  }

  /** Row-level UPDATE with the same minimal-copy-on-write machinery as
    * [[deleteWhere]]: only directories containing rows where `predicate`
    * is TRUE rewrite, applying each `assignments` column expression to
    * the matching rows (non-matching rows in a rewritten directory pass
    * through unchanged; NULL-predicate rows are non-matching, as in SQL
    * UPDATE). Assigned expressions must keep the column's committed type.
    */
  def updateWhere(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      assignments: Map[String, Column],
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      changeArtifact: Boolean = true): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    requireUniqueUntouched(spark, tableDir, assignments.keys, "updateWhere")
    enforceFkOnUpdate(spark, tableDir, predicate, assignments, "updateWhere")
    val isMatch = coalesce(predicate, lit(false))
    val transform: DataFrame => DataFrame = { df =>
      assignments.keys.foreach(c =>
        require(df.columns.contains(c), s"unknown column in assignment: $c"))
      // ONE select, not sequential withColumn: SQL UPDATE evaluates the
      // predicate and every assignment RHS against the PRE-update row
      // (`SET a = b, b = a` swaps). Chained withColumn would leak each
      // assignment into the later ones' inputs — and into the predicate
      // itself (a predicate on a column being assigned would stop
      // matching halfway through the assignment list).
      df.select(df.columns.map { c =>
        assignments.get(c) match {
          case Some(expr) => when(isMatch, expr).otherwise(col(c)).as(c)
          case None       => col(c)
        }
      }: _*)
    }
    // CHECK constraints must hold on the POST-update rows: validate the
    // transformed matches (pushdown-filtered, O(matched)) before any
    // directory rewrites
    if (LakeConstraints.constraintsOf(spark, tableDir).nonEmpty)
      LakeConstraints.enforce(spark, tableDir,
        transform(read(spark, tableDir).filter(isMatch)), "updateWhere")
    copyOnWrite(spark, tableDir, predicate, transform, maxRecordsPerFile,
      op = "update_where",
      changesOf = m => m.withColumn("_change_type", lit("update_preimage"))
        .unionByName(transform(m).withColumn("_change_type", lit("update_postimage"))),
      changeArtifact = changeArtifact)
  }

  /** The layers of a copy-on-write commit's REWRITTEN directories (the
    * untouched ones carry through [[publishManifest]]): `#stats`/`#ndv`
    * came with each rewrite's write, over the column set the old
    * directory declared, and only a bloom layer (same sizing) re-reads
    * the new directory — so a row-level op never silently sheds the
    * table's skipping layers.
    */
  private final case class RewriteLayers(
      stats: Map[String, String],
      blooms: Map[String, String],
      ndv: Map[String, String])

  private def rewriteLayers(
      spark: SparkSession,
      tableDir: String,
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      priorBlooms: Map[String, Map[String, (Int, Int, Array[Byte])]],
      rewritten: Map[String, Option[Written]]): RewriteLayers = {
    val replaced = rewritten.toSeq.collect { case (old, Some(w)) => old -> w }
    val blooms = replaced.flatMap { case (old, w) =>
      priorBlooms.get(old).filter(_.nonEmpty).flatMap { cfgs =>
        val (m, k) = cfgs.values.map(t => (t._1, t._2)).maxBy(_._1)
        bloomJson(
          readDirs(spark, tableDir, Seq(s"$tableDir/data/${w.dir}"), schemaOpt),
          Some(BloomConfig(cfgs.keys.toSeq.sorted, m, k)))
      }.map(w.dir -> _)
    }
    RewriteLayers(replaced.flatMap(_._2.statsBy).toMap, blooms.toMap,
      replaced.flatMap(_._2.ndvBy).toMap)
  }

  private def copyOnWrite(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      rewriteDir: DataFrame => DataFrame,
      maxRecordsPerFile: Long,
      op: String,
      changesOf: DataFrame => DataFrame,
      changeArtifact: Boolean,
      appendDf: Option[DataFrame] = None): Long =
    retryOnConflict(maxAttempts = 8) {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      requireNoEqDeletes(spark, tableDir, base, "deleteWhere/updateWhere")
      val dirs = manifest(spark, tableDir, base)
      val schemaOpt = versionSchema(spark, tableDir, base)
      val priorStats = dirStats(spark, tableDir, base)
      // which directories hold matching rows? one filtered scan, file →
      // commit-dir attribution; the collect is bounded by the file count
      val affected = readVersion(spark, tableDir, base)
        .filter(predicate)
        .select(input_file_name().as("f"))
        .distinct()
        .collect()
        .map(_.getString(0))
        .flatMap(f => dirs.find(d => f.contains(s"/$d/")))
        .toSet
      // ON DELETE RESTRICT (parent side): keys leaving in this commit
      // (matched pre-images minus everything the rewrite and the
      // replace-batch re-supply) must not still be referenced by a
      // declared child. Zero cost without a restrict declaration; probed
      // BEFORE any directory rewrite is paid.
      if (affected.nonEmpty && LakeConstraints.restrictsOf(spark, tableDir).nonEmpty) {
        val preAff = readDirs(spark, tableDir,
          affected.toSeq.map(d => s"$tableDir/data/$d"), schemaOpt)
        val post = appendDf.foldLeft(rewriteDir(preAff))(
          (acc, df) => acc.unionByName(df, allowMissingColumns = true))
        LakeConstraints.enforceRestrict(spark, tableDir,
          preAff.filter(coalesce(predicate, lit(false))), Some(post), op)
      }
      // per-directory rewrites are independent — run them concurrently
      // (§2.6). A rewrite keeps the directory's hive-partition layout
      // (derived from its own k=v structure), so partition pruning
      // survives row-level deletes/updates on partitioned tables.
      // write-then-count replaces the isEmpty-then-write pair: one query
      // execution per directory instead of two, stats observed by it.
      val rewritten: Map[String, Option[Written]] =
        inParallel(spark, affected.toSeq.map { d =>
          s"$op: rewrite $d" -> (() => {
            val survivors = rewriteDir(
              readDirs(spark, tableDir, Seq(s"$tableDir/data/$d"), schemaOpt))
            d -> writeDataDirNonEmpty(survivors, tableDir,
              rewriteParts(spark, tableDir, d, schemaOpt), maxRecordsPerFile,
              statsCols = priorStats.get(d).map(_.keys.toSeq.sorted).getOrElse(Nil))
          })
        }).toMap
      val surviving = dirs.flatMap(d => rewritten.get(d).fold(Option(d))(_.map(_.dir)))
      val baseSchema = schemaOpt.getOrElse(nullableAll(readVersion(spark, tableDir, base).schema))
      val schema = appendDf
        .map(df => mergeSchemas(baseSchema, nullableAll(df.schema)))
        .getOrElse(baseSchema)
      // the replace-where shape: the batch lands as one more directory in
      // the SAME commit (deletes + inserts atomically — readers never see
      // the half-applied state a deleteWhere-then-append pair would
      // expose). Layout and skipping layers continue: the table's hive
      // partitioning and declared stat columns apply to the new dir.
      val appendTask: () => Option[(Written, Option[String])] =
        () => appendDf.map { df =>
          // UNIQUE: the batch must not collide with rows OUTSIDE the
          // replaced scope (rows matching `predicate` leave in this same
          // commit). Probed inside the retry against the re-read base,
          // like appendCommit — racing writers serialize on the slot.
          LakeConstraints.enforceUnique(spark, tableDir, df, Some(base), op,
            exclude = Some(predicate))
          val (statCols, bloomCfg) = continuedLayers(spark, tableDir, base,
            df.columns.toSeq)
          // declaredOrPhysicalParts, NOT partitionColumns: the first write
          // onto an empty PARTITIONED BY table must follow the DECLARED
          // layout (no self-describing chain exists yet to copy)
          val w = writeDataDir(df, tableDir,
            declaredOrPhysicalParts(spark, tableDir, base), maxRecordsPerFile,
            statsCols = statCols)
          (w, bloomJson(df, bloomCfg))
        }
      // CDC artifact from the rows this commit's probe already located:
      // the matched pre-images, scoped to the affected directories —
      // O(matched), written before publish like any data directory.
      // `changeArtifact = false` (tables with no feed consumer) skips
      // the extra matched-rows pass and the artifact write; the change
      // feed then refuses this window, like any artifact-less rewrite.
      val cdcTask: () => Option[String] = () =>
        if (!changeArtifact || !LakeProps.cdcArtifacts(spark, tableDir)) None
        else {
          val matchedRows =
            if (affected.isEmpty)
              spark.createDataFrame(
                java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
            else readDirs(spark, tableDir, affected.toSeq.map(d => s"$tableDir/data/$d"),
              schemaOpt).filter(coalesce(predicate, lit(false)))
          // the replace-where batch rides the same artifact as inserts —
          // ONE delta for the one commit
          val frame = appendDf.foldLeft(changesOf(matchedRows))((acc, df) =>
            acc.unionByName(
              df.withColumn("_change_type", lit("insert")),
              allowMissingColumns = true))
          Some(writeChangesDir(frame, tableDir))
        }
      // only rewritten dirs with a bloom layer are re-read (the appended
      // dir's layers come from the append task)
      val rewriteStatsTask: () => RewriteLayers = () =>
        rewriteLayers(spark, tableDir, schemaOpt, dirBlooms(spark, tableDir, base), rewritten)
      // append, CDC artifact and rewritten-dir stats touch disjoint
      // inputs and outputs — overlap them (§2.6)
      val results = inParallel[Any](spark, Seq(
        s"$op: cdc artifact" -> (() => cdcTask()),
        s"$op: append batch" -> (() => appendTask()),
        s"$op: rewrite stats" -> (() => rewriteStatsTask())))
      val changesName = results(0).asInstanceOf[Option[String]]
      val appended = results(1).asInstanceOf[Option[(Written, Option[String])]]
      val cow = results(2).asInstanceOf[RewriteLayers]
      val newDirs = surviving ++ appended.map(_._1.dir)
      val stats = cow.stats ++ appended.fold(Map.empty[String, String])(_._1.statsBy)
      val ndv = cow.ndv ++ appended.fold(Map.empty[String, String])(_._1.ndvBy)
      val blooms = cow.blooms ++
        appended.flatMap { case (w, bl) => bl.map(w.dir -> _) }
      if (newDirs.isEmpty) {
        // the delete emptied the table: publish an empty snapshot (one
        // empty-but-schema'd directory keeps every read path uniform)
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
          .repartition(1)
        val d = writeDataDir(empty, tableDir, Nil, maxRecordsPerFile).dir
        publishManifest(spark, tableDir, Seq(d), schema,
          expectedBase = Some(Some(base)), op = op, changes = changesName)
      } else
        publishManifest(spark, tableDir, newDirs, schema, stats, blooms,
          expectedBase = Some(Some(base)), op = op, changes = changesName, ndv = ndv)
    }

  /** METADATA-ONLY RENAME COLUMN — the Iceberg field-id bargain without
    * touching a file: one manifest commit in which the field takes its
    * new name and records the old one under [[AkaKey]]; reads resolve
    * the indirection (see [[readDirs]]), stats keys translate in the
    * same commit, and prior versions keep reading under their own
    * manifests' names. At 100 TB a rename is O(manifest), not O(table).
    * Restrictions, all loud: the new name must be unused — including as
    * any field's FORMER name (files still carry former names, so reusing
    * one would bind old data into the new column); hive-partition
    * columns rename their directory layout, not just metadata (refused);
    * pending merge-on-read deletes keyed on the column must materialize
    * first. Bloom lines carry verbatim: a bloom keyed under the old name
    * simply stops pruning that column until the next rewrite recomputes
    * it (conservative, never wrong).
    */
  def renameColumn(
      spark: SparkSession,
      tableDir: String,
      oldName: String,
      newName: String): Long = retryOnConflict() {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val cur = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val schema = versionSchema(spark, tableDir, cur)
      .getOrElse(nullableAll(readVersion(spark, tableDir, cur).schema))
    require(schema.fields.exists(f => f.name.equalsIgnoreCase(oldName) && !isDropped(f)),
      s"no column '$oldName' in $tableDir")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists in $tableDir")
    require(!schema.fields.exists(f => akaNames(f).exists(_.equalsIgnoreCase(newName))),
      s"'$newName' is a FORMER name of column '${
        schema.fields.find(f => akaNames(f).exists(_.equalsIgnoreCase(newName))).get.name
      }' — files still carry it, so reusing it would bind old data into the new column")
    // renaming a hive-PARTITION column is metadata-only too: existing
    // directories keep their verbatim per-dir spec lines (they render
    // values under the FORMER name, which becomes an aka variant the
    // per-dir read aliases back — see readDirs), new directories lay out
    // under the new name (declaredOrPhysicalParts translates through the
    // aka indirection), and the carrier prop re-declares below. Zero
    // data movement at any scale.
    val eqd = dirEqDeletes(spark, tableDir, cur)
    require(!eqd.exists(_.keys.exists(_.equalsIgnoreCase(oldName))),
      s"pending merge-on-read deletes are keyed on '$oldName'; run " +
        "materializeDeletes first")
    // a CHECK constraint referencing the old name would silently
    // neutralize after the rename (future batches lack the column, and
    // constraint enforcement null-fills — NULL passes); refuse like
    // dropColumn does, with the same identifier-boundary matching
    val renIdent = java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(oldName) + "(?![A-Za-z0-9_])")
    LakeConstraints.constraintsOf(spark, tableDir).foreach { case (cn, check) =>
      require(!renIdent.matcher(check).find(),
        s"CHECK constraint '$cn' mentions '$oldName'; drop and re-declare " +
          "the constraint around the rename")
    }
    // a UNIQUE constraint's column list is stored by name: renaming out
    // from under it would silently neutralize enforcement (future probes
    // would evolve the old name as NULL, and NULL keys never conflict)
    LakeConstraints.uniquesOf(spark, tableDir).foreach { case (cn, cols) =>
      require(!cols.exists(_.equalsIgnoreCase(oldName)),
        s"UNIQUE constraint '$cn' covers '$oldName'; drop and re-declare " +
          "the constraint around the rename")
    }
    LakeConstraints.fksOf(spark, tableDir).foreach { case (cn, (cols, _, _)) =>
      require(!cols.exists(_.equalsIgnoreCase(oldName)),
        s"FOREIGN KEY '$cn' covers '$oldName'; drop and re-declare " +
          "the constraint around the rename")
    }
    // a renamed column reads through a coalesce of its name variants on
    // the per-directory bridge, where an EXISTENCE DEFAULT filled into an
    // absent variant would shadow a legit NULL in the present one —
    // refuse the combination instead of silently corrupting nulls
    schema.fields.find(f => f.name.equalsIgnoreCase(oldName) && !isDropped(f))
      .foreach(f => require(!f.metadata.contains("EXISTS_DEFAULT"),
        s"column '$oldName' carries a DEFAULT; renaming it would make the " +
          "existence default ambiguous across its name variants"))
    val newSchema = StructType(schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(oldName)) {
        val aka = (f.name +: akaNames(f)).distinct
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putStringArray(AkaKey, aka.toArray).build()
        StructField(newName, f.dataType, f.nullable, md)
      } else f
    })
    // stats and the NDV layer are keyed by column name: re-key the
    // renamed column's entries (sketches are value-based — a rename
    // changes no values, so the entry itself carries verbatim)
    def renamed(header: String) = rekeyLayer(spark, tableDir, cur, header)(c =>
      Some(if (c.equalsIgnoreCase(oldName)) newName else c))
    val out = publishManifest(spark, tableDir, manifest(spark, tableDir, cur), newSchema,
      renamed(StatsHeader), expectedBase = Some(Some(cur)),
      eqdeletes = eqd, op = "rename_column", ndv = renamed(NdvHeader))
    // keep the DDL carrier current: a renamed partition column must
    // steer NEW directories under its new name (the physical fallback
    // translates through the aka indirection, but the prop is what an
    // empty table consults)
    LakeProps.get(spark, tableDir).get("table.parts").foreach { declared =>
      val cols = declared.split(",").map(_.trim).filter(_.nonEmpty)
      if (cols.exists(_.equalsIgnoreCase(oldName)))
        LakeProps.set(spark, tableDir, "table.parts",
          cols.map(c => if (c.equalsIgnoreCase(oldName)) newName else c).mkString(","))
    }
    out
  }

  /** PARTITION SPEC EVOLUTION — change the hive layout NEW batches
    * follow, as ONE metadata-only commit with ZERO data movement. The
    * commit republishes the current snapshot verbatim plus a
    * [[DeclSpecHeader]] declaration; every existing directory keeps its
    * own per-dir `#parts` line and keeps reading (and pruning) under the
    * spec it was written with, while every later write path that
    * consults [[declaredOrPhysicalParts]] (catalog INSERT, MERGE's
    * append arm, replaceWhere batches, MoR update appends, OPTIMIZE
    * rewrites) lays out under the new spec. `Nil` is a legal target:
    * evolve to unpartitioned going forward.
    *
    * At 100 TB this is the difference between re-ingesting a table to
    * change its partitioning and a one-line commit: the history answers
    * time travel under each version's own declaration, and a FULL
    * [[optimize]] is the (optional, incremental-by-directory) migration
    * path that rewrites old-spec directories under the current
    * declaration — run it when the mixed-spec per-directory read union
    * (which bypasses the single-root DSv2 scan and its columnStats
    * reporting) starts to matter for the workload; until then old data
    * still dir-prunes through its own chains and the manifest stats
    * layer.
    *
    * Refused: unknown/dropped/former-name columns, non-atomic partition
    * types (array/map/struct/binary cannot render as `k=v` names), a
    * spec covering EVERY column (a data file needs at least one data
    * column). Pending MoR deletes are fine: data does not move.
    */
  def setPartitionSpec(
      spark: SparkSession,
      tableDir: String,
      newParts: Seq[String]): Long = retryOnConflict() {
    val cur = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val schema = versionSchema(spark, tableDir, cur)
      .getOrElse(nullableAll(readVersion(spark, tableDir, cur).schema))
    val vis = visibleSchema(schema)
    val resolved = newParts.map { c =>
      vis.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$c' in $tableDir — partition spec columns must be " +
            "live (non-dropped) schema columns"))
    }
    require(resolved.map(_.name.toLowerCase).distinct.size == resolved.size,
      s"duplicate column in partition spec: ${newParts.mkString(",")}")
    resolved.foreach { f =>
      import org.apache.spark.sql.types._
      require(f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType => false
        case _ => true
      }, s"column '${f.name}' (${f.dataType.simpleString}) cannot be a " +
        "hive-partition column: no k=v directory-name rendering exists")
    }
    require(resolved.size < vis.fields.length,
      "partition spec cannot cover every column - a data file needs at " +
        "least one non-partition column")
    val names = resolved.map(_.name)
    val out = publishManifest(spark, tableDir,
      manifest(spark, tableDir, cur), schema,
      expectedBase = Some(Some(cur)),
      eqdeletes = dirEqDeletes(spark, tableDir, cur),
      op = "set_spec",
      declSpec = Some(Some(names)))
    // keep the DDL carrier prop coherent (it only steers tables with no
    // published manifest, but clones/replicas copy props — a stale value
    // there would contradict the manifest the moment one exists)
    LakeProps.set(spark, tableDir, "table.parts", names.mkString(","))
    out
  }

  /** ALTER COLUMN SET/DROP DEFAULT — one metadata commit updating the
    * CURRENT default (what future INSERTs omitting the column fill).
    * The EXISTENCE default is deliberately untouched: it records what
    * rows written BEFORE the column existed mean, which is history, not
    * policy — exactly SQL's split (SET DEFAULT never rewrites old rows).
    * `None` drops the current default (later INSERTs must supply the
    * column or get NULL).
    */
  def setColumnDefault(
      spark: SparkSession,
      tableDir: String,
      name: String,
      currentDefaultSql: Option[String]): Long = retryOnConflict() {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val cur = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val schema = versionSchema(spark, tableDir, cur)
      .getOrElse(nullableAll(readVersion(spark, tableDir, cur).schema))
    require(schema.fields.exists(f => f.name.equalsIgnoreCase(name) && !isDropped(f)),
      s"no column '$name' in $tableDir")
    val newSchema = StructType(schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(name) && !isDropped(f)) {
        val b = new MetadataBuilder().withMetadata(f.metadata)
        currentDefaultSql match {
          case Some(sql) => b.putString("CURRENT_DEFAULT", sql)
          case None      => b.remove("CURRENT_DEFAULT")
        }
        StructField(f.name, f.dataType, f.nullable, b.build())
      } else f
    })
    publishManifest(spark, tableDir,
      manifest(spark, tableDir, cur), newSchema,
      expectedBase = Some(Some(cur)),
      eqdeletes = dirEqDeletes(spark, tableDir, cur),
      op = "set_default")
  }

  /** METADATA-ONLY DROP COLUMN — the other half of the field-id bargain
    * [[renameColumn]] opened: one manifest commit marks the field a
    * TOMBSTONE ([[DroppedKey]]); every read projects it away, its stats
    * lines drop, and a later full compaction sheds the tombstone once
    * files no longer carry the data. The name (and any former names)
    * can never be rebound — files still hold the old values, and
    * name-based resolution would resurrect them. Refused, loudly: the
    * only remaining column, hive-partition columns, pending
    * merge-on-read delete keys, and columns a CHECK constraint
    * mentions (the constraint would be unevaluable on future ingests —
    * drop the constraint first).
    */
  def dropColumn(
      spark: SparkSession,
      tableDir: String,
      name: String): Long = retryOnConflict() {
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val cur = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val schema = versionSchema(spark, tableDir, cur)
      .getOrElse(nullableAll(readVersion(spark, tableDir, cur).schema))
    require(schema.fields.exists(f => f.name.equalsIgnoreCase(name) && !isDropped(f)),
      s"no column '$name' in $tableDir")
    require(visibleSchema(schema).fields.length > 1,
      s"cannot drop '$name': it is the table's only column")
    require(!allPartitionColumns(spark, tableDir, cur).exists(_.equalsIgnoreCase(name)),
      s"'$name' is a hive-partition column (in at least one directory's " +
        "spec); dropping it requires a layout rewrite")
    val eqd = dirEqDeletes(spark, tableDir, cur)
    require(!eqd.exists(_.keys.exists(_.equalsIgnoreCase(name))),
      s"pending merge-on-read deletes are keyed on '$name'; run " +
        "materializeDeletes first")
    // identifier-boundary match, not substring: dropping `id` must not be
    // blocked by a constraint on `valid` (conservative against quoting:
    // a backquoted identifier still matches on its word boundaries)
    val ident = java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])")
    LakeConstraints.constraintsOf(spark, tableDir).foreach { case (cn, check) =>
      require(!ident.matcher(check).find(),
        s"CHECK constraint '$cn' mentions '$name'; drop the constraint first")
    }
    LakeConstraints.uniquesOf(spark, tableDir).foreach { case (cn, cols) =>
      require(!cols.exists(_.equalsIgnoreCase(name)),
        s"UNIQUE constraint '$cn' covers '$name'; drop the constraint first")
    }
    LakeConstraints.fksOf(spark, tableDir).foreach { case (cn, (cols, _, _)) =>
      require(!cols.exists(_.equalsIgnoreCase(name)),
        s"FOREIGN KEY '$cn' covers '$name'; drop the constraint first")
    }
    val newSchema = StructType(schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(name) && !isDropped(f))
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putBoolean(DroppedKey, true).build())
      else f
    })
    publishManifest(spark, tableDir, manifest(spark, tableDir, cur), newSchema,
      rekeyLayer(spark, tableDir, cur, StatsHeader)(Some(_).filterNot(_.equalsIgnoreCase(name))),
      expectedBase = Some(Some(cur)), eqdeletes = eqd, op = "drop_column")
  }

  /** The metadata-only widening lattice: exactly the promotions this
    * Spark's parquet readers perform per-file at scan time (SPARK-40876,
    * probed in WideningProbeSpec on BOTH the vectorized and row-based
    * paths) — a manifest schema can only ever be as wide as every
    * physical file can serve, and every promotion must be VALUE-EXACT:
    *
    *   - the integral up-chain (BYTE→…→BIGINT);
    *   - FLOAT→DOUBLE, and BYTE/SHORT/INT→DOUBLE (all exact inside the
    *     53-bit mantissa; BIGINT→DOUBLE is lossy above 2^53 and refused);
    *   - DECIMAL(p1,s1)→DECIMAL(p2,s2) when the scale does not shrink
    *     and the INTEGER-part capacity does not shrink (p2−s2 ≥ p1−s1) —
    *     a pure rescale, exact by construction, including across the
    *     int64/binary physical boundary at precision 18 (probed);
    *   - DATE→TIMESTAMP_NTZ (midnight expansion, exact).
    */
  private def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (intRank.contains(from) && intRank.contains(to) &&
      intRank(from) < intRank(to)) ||
      (from == FloatType && to == DoubleType) ||
      (intRank.get(from).exists(_ <= 3) && to == DoubleType) ||
      ((from, to) match {
        case (d1: DecimalType, d2: DecimalType) =>
          d2.scale >= d1.scale &&
            d2.precision - d2.scale >= d1.precision - d1.scale &&
            (d2.precision > d1.precision || d2.scale > d1.scale)
        case _ => false
      }) ||
      (from == DateType && to == TimestampNTZType)
  }

  /** METADATA-ONLY TYPE WIDENING — the third face of the field-id
    * bargain ([[renameColumn]], [[dropColumn]]): one manifest commit in
    * which the column takes a STRICTLY WIDER type (the [[isWidening]]
    * lattice: integral up-chain, FLOAT/BYTE/SHORT/INT→DOUBLE, exact
    * DECIMAL growth, DATE→TIMESTAMP_NTZ). No file rewrites: the readers
    * promote each file's narrower physical type at scan time (probed in
    * WideningProbeSpec for both reader paths), old versions
    * time-travel-read under their own manifests' types, and future
    * batches must supply the widened type (the [[mergeSchemas]] equality
    * check — cast before committing, same contract as any type
    * mismatch).
    *
    * Skipping layers stay CONSERVATIVE across the commit:
    *   - integral stats lines carry verbatim — the stored string renders
    *     are exact integers, so numeric comparison against widened
    *     literals is unchanged;
    *   - a FLOAT column's stats lines DROP: a float's shortest string
    *     render re-parses to a double that can sit on the wrong side of
    *     the true value (0.1f renders "0.1" < its exact double
    *     0.10000000149...), so a boundary literal could wrongly prune a
    *     directory containing matches — no pruning beats wrong pruning
    *     until the next rewrite recomputes stats in the double domain;
    *   - the column's BLOOM entries drop: xxhash64 hashes INT and LONG
    *     values differently, so a probe literal cast to the widened type
    *     would miss filters built in the narrow domain.
    *
    * Hive-partition columns widen metadata-only too (directory-name
    * renders re-parse exactly under every lattice promotion), EXCEPT
    * from FLOAT — a float's shortest render re-parses inexactly as
    * DOUBLE. Refused, loudly: that float-partition case and pending
    * merge-on-read delete keys (the delete files carry narrow-typed
    * keys; materialize first).
    */
  def widenColumn(
      spark: SparkSession,
      tableDir: String,
      name: String,
      to: org.apache.spark.sql.types.DataType): Long = retryOnConflict() {
    import org.apache.spark.sql.types.{StructField, StructType}
    val cur = currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val schema = versionSchema(spark, tableDir, cur)
      .getOrElse(nullableAll(readVersion(spark, tableDir, cur).schema))
    val field = schema.fields.find(f => f.name.equalsIgnoreCase(name) && !isDropped(f))
      .getOrElse(throw new IllegalArgumentException(s"no column '$name' in $tableDir"))
    require(isWidening(field.dataType, to),
      s"cannot widen '$name' from ${field.dataType.sql} to ${to.sql}: only " +
        "value-exact promotions are metadata-only (integral up-chain, " +
        "FLOAT/BYTE/SHORT/INT->DOUBLE, scale-and-capacity-preserving " +
        "DECIMAL growth, DATE->TIMESTAMP_NTZ; anything else needs a rewrite)")
    // hive-PARTITION columns widen metadata-only too, EXCEPT from FLOAT:
    // a partition value is authoritative as its rendered STRING, and the
    // same string re-parses exactly under every widened type above
    // ("5" -> 5L/5.0, "1.50" -> any wider decimal, "2021-03-04" ->
    // midnight) — but a float render re-parses to a double on the wrong
    // side of the stored value (0.1f's "0.1" != (double)0.1f), so a
    // float partition widen would silently shift values
    require(field.dataType != org.apache.spark.sql.types.FloatType ||
      !allPartitionColumns(spark, tableDir, cur).exists(_.equalsIgnoreCase(name)),
      s"'$name' is a FLOAT hive-partition column; its directory-name " +
        "renders re-parse inexactly as DOUBLE - widening requires a " +
        "layout rewrite")
    val eqd = dirEqDeletes(spark, tableDir, cur)
    require(!eqd.exists(_.keys.exists(_.equalsIgnoreCase(name))),
      s"pending merge-on-read deletes are keyed on '$name'; run " +
        "materializeDeletes first")
    val newSchema = StructType(schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(name) && !isDropped(f))
        StructField(f.name, to, f.nullable, f.metadata)
      else f
    })
    // the widened column's entries drop: its bloom always, its stats
    // from FLOAT only (see above)
    def withoutCol(header: String) =
      rekeyLayer(spark, tableDir, cur, header)(Some(_).filterNot(_.equalsIgnoreCase(name)))
    val stats =
      if (field.dataType == org.apache.spark.sql.types.FloatType) withoutCol(StatsHeader)
      else Map.empty[String, String]
    publishManifest(spark, tableDir, manifest(spark, tableDir, cur), newSchema,
      stats, withoutCol(BloomHeader),
      expectedBase = Some(Some(cur)), eqdeletes = eqd, op = "widen_column")
  }

  /** OPTIMIZE: rewrite the published version's N data directories into
    * ONE and publish the compacted manifest as a new version — the
    * antidote to append-forever manifest growth (a year of 5-minute
    * micro-batches is ~10^5 directories per read without it). Runs as an
    * ordinary snapshot-isolated commit: readers of the old version keep
    * their files, prior versions stay time-travelable until [[vacuum]],
    * and a crash mid-rewrite leaves only an unreferenced directory. Data
    * and schema are byte-identical to the pre-optimize snapshot; only
    * the layout changes. Run it from the same maintenance cadence as
    * vacuum; on a real cluster, schedule by manifest length (e.g. every
    * 64 appends) so read-side file listing stays O(1)-ish.
    */
  /** ANALYZE: add or refresh the column-statistics layers (`#stats`
    * min/max, `#ndv` HLL + null counts + histogram edges +
    * frequent-values sketches + exact sums) on an EXISTING table WITHOUT
    * rewriting a byte of data — the stats-backfill a 100 TB table needs
    * when a column becomes filter-hot after ingest, where the only
    * alternative today is an `optimize` rewrite of the whole table.
    * Live directories read their LOGICAL rows through the variant
    * bridge (renamed columns analyze under their CURRENT names, rows
    * already MoR-deleted don't widen the bounds), tagged per directory
    * and aggregated as ONE grouped job per [[AnalyzeChunkDirs]]-sized
    * chunk — never a job per directory — computing exactly the payloads
    * every commit writes; ONE metadata-only commit (`op = analyze`,
    * zero data directories moved) publishes them, which also upgrades
    * legacy directories to the full current layer set (a pre-sum-layer
    * table gains its "s" entries here). Columns already analyzed
    * refresh; other columns' entries carry untouched. Cost:
    * ceil(dirs/64) grouped aggregation jobs (4 in flight) + one
    * manifest write; concurrent commits win the slot and the analyze
    * retries against the moved version like any read-modify-write
    * committer.
    */
  /** Directories per grouped analyze job (bounds union plan width) and
    * how many chunk jobs run concurrently (bounds driver/job pressure).
    */
  private[graft] val AnalyzeChunkDirs = 64
  private[graft] val AnalyzeJobConcurrency = 4
  private val AnalyzeDirTag = "_graft_stats_dir"

  /** `onlyMissing = true` restricts the scan to directories that LACK a
    * complete layer entry for any requested column — the steady-state
    * incremental call: after the first full analyze, a daily
    * `analyze(only_missing)` backfills just the dirs that arrived via
    * stats-less writers (or predate a layer) and is a METADATA-ONLY
    * NO-OP returning the current version when nothing is missing. On a
    * 10^5-directory table this is the difference between re-reading the
    * table per cadence call and reading only the new debt. Existing
    * entries are immutable anyway (directories are immutable), so the
    * restriction can never change an answer — only skip re-deriving it.
    */
  def analyzeStats(
      spark: SparkSession,
      tableDir: String,
      cols: Seq[String],
      onlyMissing: Boolean = false,
      bloomCols: Seq[String] = Nil): Long = {
    require(cols.nonEmpty || bloomCols.nonEmpty,
      "analyzeStats needs at least one column (or bloom column)")
    retryOnConflict(maxAttempts = 4) {
      val v = currentVersion(spark, tableDir).getOrElse(
        throw new IllegalStateException(s"no published version in $tableDir"))
      val dirs = manifest(spark, tableDir, v)
      val schema0 = versionSchema(spark, tableDir, v)
        .getOrElse(nullableAll(readVersion(spark, tableDir, v).schema))
      val visible = visibleSchema(schema0)
      // "*" = every ATOMIC column (nested/array/map/binary types carry no
      // useful min/max render and are skipped) — the "just make this
      // table skippable" one-liner
      val cols0 =
        if (cols != Seq("*")) cols.filter(_.nonEmpty)
        else visible.fields.toSeq.filter { f =>
          import org.apache.spark.sql.types._
          f.dataType match {
            case _: StructType | _: ArrayType | _: MapType | BinaryType |
                NullType | _: UserDefinedType[_] => false
            case _ => true
          }
        }.map(_.name)
      require(cols0.nonEmpty || bloomCols.nonEmpty,
        "analyzeStats: '*' resolved to no analyzable (atomic-typed) columns")
      val missing = (cols0 ++ bloomCols).filterNot(c => visible.fields.exists(_.name == c))
      require(missing.isEmpty,
        s"analyzeStats: columns not in the table schema: ${missing.mkString(", ")}")
      val rowsMeta = dirRowCounts(spark, tableDir, v)
      import org.json4s.JsonAST._
      def parseObj(s: String): List[(String, JValue)] =
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption match {
          case Some(JObject(fs)) => fs
          case _                 => Nil
        }
      def renderObj(fs: List[(String, JValue)]): String =
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(JObject(fs)))
      // analyzed columns REPLACE their prior entries; everything else
      // carries verbatim (immutable data, immutable statistics)
      def overlay(header: String, fresh: Seq[(String, String)]): Map[String, String] = {
        val prior = dirLayer(spark, tableDir, v, header)
        fresh.map { case (d, json) =>
          val freshFs = parseObj(json)
          val keys = freshFs.map(_._1).toSet
          d -> renderObj(prior.get(d).map(parseObj).getOrElse(Nil)
            .filterNot(f => keys(f._1)) ++ freshFs)
        }.toMap
      }
      // ONE grouped aggregation job per CHUNK of directories, chunks
      // submitted with bounded concurrency — never one Spark job per
      // directory. The layers are per-directory aggregates, so tagging
      // each directory's (delete-applied, variant-bridged) rows and
      // aggregating under groupBy(tag) emits a chunk's every manifest
      // line from a single job: at the 10^4–10^5 directories of a real
      // 100 TB table this is ~dirs/64 scheduler submissions instead of
      // `dirs`, and the 4-way chunk overlap keeps the cluster fed while
      // a chunk's final stage drains. The chunk size bounds the union's
      // plan width (a 10^5-branch union would trade scheduler time for
      // driver planning time); the per-dir tag is a literal on each
      // branch, so no file-path parsing can misattribute rows.
      val live0 = dirs.filter(d => rowsMeta.get(d).forall(_._1 > 0))
      val live =
        if (cols0.isEmpty) Nil // bloom-only call: no stats pass
        else if (!onlyMissing) live0
        else {
          // "complete" = a #stats AND a #ndv entry for every requested
          // column (layers riding #ndv — histogram/freq/sum — were all
          // written by the same pass, so the ndv entry is the witness)
          val haveStats = dirStats(spark, tableDir, v)
          val haveNdv = dirNdv(spark, tableDir, v)
          live0.filterNot(d => cols0.forall(c =>
            haveStats.get(d).exists(_.contains(c)) &&
              haveNdv.get(d).exists(_.contains(c))))
        }
      // BLOOM BACKFILL: the one skipping layer the stats pass can't
      // ride (a filter is a per-directory BITSET, not an aggregate row).
      // One job per directory covering all requested columns, submitted
      // with the same bounded concurrency — the driver fold per job is
      // bounded by the filters' own capacity (distinct positions ≤ bits
      // per column), never by data size, the bloomJson contract. Params
      // reuse any existing bloom entry's (bits, k) so new filters stay
      // probe-compatible with old ones; a bloom-less table gets the
      // defaults.
      val bloomDirs =
        if (bloomCols.isEmpty) Nil
        else if (!onlyMissing) live0
        else {
          val have = dirBlooms(spark, tableDir, v)
          live0.filterNot(d => bloomCols.forall(c =>
            have.get(d).exists(_.contains(c))))
        }
      if (live.isEmpty && bloomDirs.isEmpty)
        return v // nothing to backfill (or a bloom-only no-op): metadata no-op
      val bloomCfg: Option[BloomConfig] =
        if (bloomCols.isEmpty) None
        else {
          val existing = dirBlooms(spark, tableDir, v).values
            .flatMap(_.values).headOption
          Some(existing.fold(BloomConfig(bloomCols)) { case (m, k, _) =>
            BloomConfig(bloomCols, m, k)
          })
        }
      // inParallel waits for every chunk and bloom job before the first
      // failure rethrows, so a failed analyze leaves no job running
      val results = inParallel(spark,
        live.grouped(AnalyzeChunkDirs).toSeq.zipWithIndex.map { case (chunk, i) =>
          s"analyze: stats chunk $i" -> (() => {
            val tagged = chunk.map { d =>
              readDirsWithDeletes(spark, tableDir, v, Seq(d), Some(visible))
                .select(cols0.map(col) :+ lit(d).as(AnalyzeDirTag): _*)
            }
            columnStatsNdvBy(tagged.reduce(_.unionByName(_)), AnalyzeDirTag, cols0)
          })
        }, maxConcurrent = AnalyzeJobConcurrency).flatten
      val blooms = inParallel(spark, bloomDirs.map { d =>
        s"analyze: bloom $d" -> (() =>
          bloomJson(readDirsWithDeletes(spark, tableDir, v, Seq(d), Some(visible)), bloomCfg)
            .map(d -> _))
      }, maxConcurrent = AnalyzeJobConcurrency).flatten
      publishManifest(spark, tableDir, dirs, schema0,
        stats = overlay(StatsHeader, results.map { case (d, (sj, _)) => d -> sj }),
        blooms = overlay(BloomHeader, blooms),
        expectedBase = Some(Some(v)),
        eqdeletes = dirEqDeletes(spark, tableDir, v),
        op = "analyze",
        ndv = overlay(NdvHeader, results.map { case (d, (_, nj)) => d -> nj }))
    }
  }

  /** `zorderBy` makes this OPTIMIZE ... ZORDER BY: the compacted rewrite
    * also co-clusters rows on 2-4 columns, so the one table rewrite the
    * compaction already pays buys multi-dimensional footer-stat pruning
    * too. With `statsCols` the layers stack: manifest stats skip whole
    * commits, Z-order footer stats skip row groups within survivors.
    */
  def optimize(
      spark: SparkSession,
      tableDir: String,
      parts: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      statsCols: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      bloom: Option[BloomConfig] = None): Long =
    // read-rewrite: losing the race to a concurrent append means the
    // compacted snapshot is already stale — retry re-reads and re-compacts
    // (bounded low: under sustained ingest pressure, giving up and letting
    // the next cadence call compact is better than competing for the slot)
    retryOnConflict(maxAttempts = 4) {
      val cur = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      val snapshot = readVersion(spark, tableDir, cur)
      // empty `parts` means THE TABLE'S OWN layout (declared spec, else
      // newest-dir physical), not flat: a default CALL optimize must
      // never silently strip a 100 TB table's partitioning — and it is
      // exactly how a spec evolution migrates old directories. To
      // flatten deliberately, declare it: setPartitionSpec(Nil) first.
      val layout =
        if (parts.nonEmpty) parts else declaredOrPhysicalParts(spark, tableDir, cur)
      val schema = versionSchema(spark, tableDir, cur).getOrElse(nullableAll(snapshot.schema))
      // a compaction merges N directories into one, so per-directory stats
      // and blooms must be recomputed over the union, not carried forward.
      // Defaults CONTINUE the table's own layers (same rule as the layout
      // above and as TRUNCATE): a plain CALL optimize on a stats/bloom-
      // layered 100 TB table must never silently strip its pruning and
      // CBO statistics — explicit arguments still override
      val (contStats, contBloom) = continuedLayers(spark, tableDir, cur,
        snapshot.columns.toSeq)
      val effStats = if (statsCols.nonEmpty) statsCols else contStats
      val effBloom = bloom.orElse(contBloom)
      val w = writeDataDir(snapshot, tableDir, layout, maxRecordsPerFile, zorderBy,
        statsCols = effStats)
      val blooms = bloomJson(snapshot, effBloom).map(w.dir -> _).toMap
      publishManifest(spark, tableDir, Seq(w.dir), stripAka(schema), w.statsBy, blooms,
        expectedBase = Some(Some(cur)), op = "optimize", ndv = w.ndvBy)
    }

  /** INCREMENTAL COMPACTION — rewrite ONLY the directories whose
    * manifest row count falls below `smallRows`, consolidated into one
    * new directory; every other directory carries verbatim (manifest
    * line, stats, blooms, partition spec — zero reads, zero writes).
    * Cost is O(small dirs), not O(table): the maintenance cadence a
    * 100 TB table can actually afford between full [[optimize]]s — a
    * thousand trickle-appends compact for the price of the trickle, not
    * the fact table. Returns None (no commit) when fewer than two
    * qualifying directories exist; zero-row directories (TRUNCATE
    * leftovers, no-match replaceWhere batches) always qualify, so the
    * cadence also sweeps them out of the manifest. Row-identical by
    * construction; committed as `op=optimize`, so the CDC feed treats
    * the window like any compaction (no row delta). Pending
    * merge-on-read deletes refuse loudly, like every rewrite.
    */
  def compactSmall(
      spark: SparkSession,
      tableDir: String,
      smallRows: Long,
      maxRecordsPerFile: Long = 8L * 1000 * 1000): Option[Long] =
    retryOnConflict(maxAttempts = 4) {
      val base = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      requireNoEqDeletes(spark, tableDir, base, "compactSmall")
      val dirs = manifest(spark, tableDir, base)
      val rowMeta = dirRowCounts(spark, tableDir, base)
      // directories without a row line (legacy manifests) are skipped:
      // "small" must be KNOWN, not guessed, before paying a rewrite
      // set-based split: the target workload is exactly the one with
      // MANY directories, so O(dirs × small) contains-scans would eat
      // the O(small dirs) cost contract on the driver
      val smallSet = dirs.filter(d => rowMeta.get(d).exists(_._1 < smallRows)).toSet
      if (smallSet.size < 2) return None
      val small = dirs.filter(smallSet)
      val kept = dirs.filterNot(smallSet)
      val schemaOpt = versionSchema(spark, tableDir, base)
      val data = readDirs(spark, tableDir, small.map(d => s"$tableDir/data/$d"), schemaOpt)
      val (statCols, bloomCfg) = continuedLayers(spark, tableDir, base, data.columns.toSeq)
      // the consolidated dir follows the CURRENT declared layout; small
      // dirs from older partition specs normalize in the same pass
      val w = writeDataDir(data, tableDir,
        declaredOrPhysicalParts(spark, tableDir, base), maxRecordsPerFile, statsCols = statCols)
      // schema verbatim (NOT stripAka): kept directories still carry
      // former column names only the aka indirection can read
      val schema = schemaOpt.getOrElse(nullableAll(data.schema))
      Some(publishManifest(spark, tableDir, kept :+ w.dir, schema, w.statsBy,
        bloomJson(data, bloomCfg).map(w.dir -> _).toMap,
        expectedBase = Some(Some(base)), op = "optimize", ndv = w.ndvBy))
    }

  /** OPTIMIZE ... CLUSTER BY into MULTIPLE Z-range-disjoint directories:
    * the snapshot is Z-order clustered ([[Lake.withZorderKey]]) and
    * range-split into `numDirs` directories covering DISJOINT Z-ranges,
    * each committed with its own per-column stats. Where the single-dir
    * [[optimize]]`(zorderBy=...)` buys parquet row-group pruning, this
    * lifts the same geometry one level up to the MANIFEST: a Z-range is
    * a tile of the value space, so each directory's [min,max] box on
    * EVERY clustered column is narrow, and a multi-dimensional range
    * predicate prunes whole directories before any file (or footer)
    * opens — e.g. `numDirs=4` over 2 columns makes each directory one
    * quadrant, and `x < m AND y < m` plans exactly one of them. At
    * 100 TB with `numDirs` in the hundreds this is the decisive layer:
    * manifest metadata only, one driver computation, no listing. The
    * three skipping layers then stack per surviving directory (hive
    * partitions → footers → decode).
    *
    * One table rewrite, same as any compaction: ONE range-shuffled
    * write produces all directories (each task owns one Z-range;
    * `partitionBy` on the range id splits them; the ids then rename to
    * ordinary immutable lake directories), plus one bounded stats pass
    * per new directory. Unpartitioned tables only — hive-partitioned
    * tables already have a leading directory dimension; compose with
    * [[optimize]]`(parts, zorderBy)` instead.
    */
  def optimizeClustered(
      spark: SparkSession,
      tableDir: String,
      zorderBy: Seq[String],
      numDirs: Int,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      statsCols: Seq[String] = Nil,
      bloom: Option[BloomConfig] = None): Long = {
    require(numDirs >= 2, s"numDirs must be >= 2, got $numDirs (use optimize for 1)")
    retryOnConflict(maxAttempts = 4) {
      val cur = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      require(allPartitionColumns(spark, tableDir, cur).isEmpty,
        "optimizeClustered serves unpartitioned tables; hive-partitioned " +
          "tables (any directory's spec) compose optimize(parts, zorderBy) instead")
      val snapshot = readVersion(spark, tableDir, cur)
      val schema = versionSchema(spark, tableDir, cur).getOrElse(nullableAll(snapshot.schema))
      val stage = java.util.UUID.randomUUID().toString
      // one range shuffle on the Z-key: each task owns one contiguous
      // Z-range, tagged by its partition id; partitionBy splits the
      // ranges into k=v subdirs the rename below promotes to top-level
      // lake directories
      val RangeTag = "_graft_zrange"
      // range boundaries come from RangePartitioner's reservoir sample;
      // at the default 100 points/partition a boundary can drift past a
      // Z-quadrant edge, and ONE stray point widens the neighbor
      // directory's [min,max] box across the whole tile — the skipping
      // layer this rewrite exists to build. The boundaries are computed
      // once per OPTIMIZE, so a 100× denser sample is noise in the
      // rewrite cost and buys near-exact, skew-balanced tiles.
      val SampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
      val prevSample = spark.conf.getOption(SampleKey)
      spark.conf.set(SampleKey, "10000")
      try {
        Lake.withZorderKey(snapshot, zorderBy)
          .repartitionByRange(numDirs, col(Lake.ZKey))
          .sortWithinPartitions(col(Lake.ZKey))
          .withColumn(RangeTag, org.apache.spark.sql.functions.spark_partition_id())
          .drop(Lake.ZKey)
          .write.mode("error").option("maxRecordsPerFile", maxRecordsPerFile)
          .partitionBy(RangeTag)
          .parquet(s"$tableDir/data/$stage")
      } finally prevSample.fold(spark.conf.unset(SampleKey))(spark.conf.set(SampleKey, _))
      val f = fs(spark, tableDir)
      val stagePath = new org.apache.hadoop.fs.Path(s"$tableDir/data/$stage")
      // small snapshots can fill fewer than numDirs ranges: take what
      // materialized, in Z order (range ids are ordered by construction)
      val rangeDirs = f.listStatus(stagePath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$RangeTag="))
        .map(_.getPath.getName)
        .sortBy(n => n.stripPrefix(s"$RangeTag=").toInt)
        .toSeq
      val newDirs = rangeDirs.map { rd =>
        val i = rd.stripPrefix(s"$RangeTag=").toInt
        val name = s"$stage-z$i"
        require(f.rename(new org.apache.hadoop.fs.Path(stagePath, rd),
          new org.apache.hadoop.fs.Path(s"$tableDir/data/$name")),
          s"failed to promote $rd to a lake directory")
        name
      }
      f.delete(stagePath, true): Unit // only the empty shell + _SUCCESS remain
      // per-directory skipping layers over the clustered layout: stats
      // on the clustered columns (plus any extras) give each directory
      // its narrow multi-dimensional box. The table's OWN declared layers
      // continue by default (same rule as optimize): a re-cluster must
      // never strip the pruning/CBO statistics the table already carried
      val (contStats, contBloom) = continuedLayers(spark, tableDir, cur,
        snapshot.columns.toSeq)
      val statCols = (zorderBy ++ statsCols ++ contStats).distinct.sorted
      val effBloom = bloom.orElse(contBloom)
      // one grouped pass over the new directories, tagged by name
      val statsNdvByDir =
        if (statCols.isEmpty || newDirs.isEmpty) Map.empty[String, (String, String)]
        else columnStatsNdvBy(newDirs.map(d =>
          readDirs(spark, tableDir, Seq(s"$tableDir/data/$d"), Some(schema))
            .select(statCols.map(col) :+ lit(d).as(AnalyzeDirTag): _*))
          .reduce(_ unionByName _), AnalyzeDirTag, statCols).toMap
      val stats = statsNdvByDir.map { case (d, (s, _)) => d -> s }
      val zNdv = statsNdvByDir.map { case (d, (_, n)) => d -> n }
      val blooms = newDirs.flatMap { d =>
        bloomJson(
          readDirs(spark, tableDir, Seq(s"$tableDir/data/$d"), Some(schema)), effBloom)
          .map(d -> _)
      }.toMap
      // a lost publish race re-runs this whole block with a fresh stage
      // UUID — without cleanup every failed attempt would strand a FULL
      // duplicate snapshot under data/ (vacuum would get it eventually,
      // but "crash leaves only garbage" must not mean "a conflict
      // multiplies the table"). ONLY a CommitConflictException triggers
      // the cleanup: a conflict proves the manifest claim was lost, so
      // nothing references the promoted dirs. Any other failure (e.g. a
      // transient pointer-write error AFTER createExclusive landed) may
      // leave a successfully-published manifest referencing them — the
      // listing is authoritative, the pointer a hint — and deleting the
      // dirs then would corrupt the current version; vacuum backstops.
      try publishManifest(spark, tableDir, newDirs, stripAka(schema), stats, blooms,
        expectedBase = Some(Some(cur)), op = "optimize", ndv = zNdv)
      catch {
        case e: CommitConflictException =>
          newDirs.foreach { d =>
            try f.delete(new org.apache.hadoop.fs.Path(s"$tableDir/data/$d"), true): Unit
            catch { case _: Throwable => () } // best-effort; vacuum backstops
          }
          throw e
      }
    }
  }

  /** One row per retained version, newest first: (version, data-dir
    * count, column count, writer txn watermarks) —
    * the DESCRIBE HISTORY face of the commit log, for operators deciding
    * what to roll back to or vacuum. Metadata-only: reads manifests,
    * never data.
    */
  def history(spark: SparkSession, tableDir: String): Seq[(Long, Int, Int, Map[String, Long])] = {
    val f = fs(spark, tableDir)
    val manRoot = new org.apache.hadoop.fs.Path(s"$tableDir/manifest")
    if (!f.exists(manRoot)) return Nil
    f.listStatus(manRoot)
      .flatMap(s => s.getPath.getName.stripPrefix("v=").stripSuffix(".txt").toLongOption)
      .sorted(Ordering[Long].reverse)
      .toSeq
      .map { v =>
        val dirs = manifest(spark, tableDir, v)
        val cols = versionSchema(spark, tableDir, v).map(_.fields.length).getOrElse(0)
        val txns = txnWatermarks(spark, tableDir, v)
        (v, dirs.size, cols, txns)
      }
  }

  /** ROLLBACK: republish a retained version's manifest as the NEW current
    * version — instant, metadata-only undo (data directories are
    * immutable, so restoring a snapshot is one manifest write; nothing is
    * copied). History is preserved: the bad versions stay time-travelable
    * until vacuum, and the rollback itself is an ordinary
    * optimistically-published commit (concurrent writers conflict, txn
    * watermarks carry from the CURRENT version so exactly-once writers
    * do not replay batches the rollback discarded — their data is
    * discarded by design; re-ingest under a new batchId).
    */
  def rollback(spark: SparkSession, tableDir: String, toVersion: Long): Long =
    retryOnConflict(maxAttempts = 8) {
      val cur = currentVersion(spark, tableDir)
        .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
      require(toVersion <= cur, s"cannot roll forward to unpublished version $toVersion")
      val dirs = manifest(spark, tableDir, toVersion)
      val schema = versionSchema(spark, tableDir, toVersion)
        .getOrElse(nullableAll(readVersion(spark, tableDir, toVersion).schema))
      // the target's own lines replace whatever the current version
      // carries for the same directories (a later rename re-keyed them,
      // an analyze added some); a line the target lacks must not survive
      def restored(header: String) = {
        val target = dirLayer(spark, tableDir, toVersion, header)
        dirs.map(d => d -> target.getOrElse(d, NoLayer)).toMap
      }
      publishManifest(spark, tableDir, dirs, schema,
        restored(StatsHeader), restored(BloomHeader),
        expectedBase = Some(Some(cur)),
        eqdeletes = dirEqDeletes(spark, tableDir, toVersion), op = "rollback",
        ndv = restored(NdvHeader),
        // the partition-spec declaration is snapshot-versioned state:
        // a rollback restores the TARGET's declaration (or its absence),
        // so an accidental setPartitionSpec undoes like any other commit
        declSpec = Some(declaredSpec(spark, tableDir, toVersion)))
    }

  /** Manifest-level directory pruning for ARBITRARY pushed filters — the
    * skipping layer [[GraftCatalog]]'s SQL scans (and the constraint and
    * procedure probes) ride: given the data filters Spark
    * pushed, drop every directory whose committed min/max stats (and
    * bloom, for equality probes) PROVE it holds no matching row. Strictly
    * conservative: any filter shape, type, or stats gap this cannot
    * reason about keeps the directory — wrong answers are impossible,
    * only missed pruning. Bounds and literals compare as typed values
    * ([[LakeMetaAgg.bounds]], [[LakeMetaAgg.literal]]), so ranges prune
    * on every type the decoder reads: numeric, decimal, string (UTF-8
    * byte order), date and timestamp (epoch micros from the histogram
    * edges); a bound that does not decode, or a literal with no exact
    * value in the column's type, keeps the directory. All bloom probes
    * for the query run as ONE driver-side mini-job. At 100 TB this is the
    * layer that turns a point SELECT into a handful-of-directories scan
    * BEFORE any parquet footer is opened.
    */
  def pruneDirsForFilters(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val dirs = manifest(spark, tableDir, version)
    if (filters.isEmpty) return dirs
    val stats = dirStats(spark, tableDir, version)
    val blooms = dirBlooms(spark, tableDir, version)
    if (stats.isEmpty && blooms.isEmpty) return dirs
    lazy val hists = dirHist(spark, tableDir, version)
    val schemaOpt = versionSchema(spark, tableDir, version)
    def dtOf(c: String): Option[DataType] =
      schemaOpt.flatMap(_.fields.find(_.name.equalsIgnoreCase(c))).map(_.dataType)

    // every (column, value, m, k) bloom probe the filters need, computed
    // in ONE job; equality probes on columns without a committed type or
    // with >16 IN values fall back to stats-only
    val eqProbes = scala.collection.mutable.LinkedHashSet.empty[(String, Any, Int, Int)]
    def collectEq(f: Filter): Unit = f match {
      case EqualTo(c, v) if v != null          => addProbes(c, v)
      case EqualNullSafe(c, v) if v != null    => addProbes(c, v)
      case In(c, vs) if vs != null && vs.length <= 16 =>
        vs.filter(_ != null).foreach(addProbes(c, _))
      case And(l, r)                           => collectEq(l); collectEq(r)
      case Or(l, r)                            => collectEq(l); collectEq(r)
      case _                                   =>
    }
    def addProbes(c: String, v: Any): Unit =
      if (dtOf(c).isDefined) {
        val cfgs: Set[(Int, Int)] =
          blooms.values.flatMap(_.get(c)).map(t => (t._1, t._2)).toSet
        cfgs.foreach { case (m, k) => eqProbes += ((c, v, m, k)) }
      }
    filters.foreach(collectEq)
    val probePositions: Map[(String, Any, Int, Int), Seq[Long]] =
      if (eqProbes.isEmpty) Map.empty
      else {
        val ps = eqProbes.toSeq
        val cols = ps.map { case (c, v, m, k) =>
          bloomPositions(lit(v).cast(dtOf(c).get), m, k)
        }
        val row = spark.range(1).select(cols: _*).head()
        ps.zipWithIndex.map { case (p, i) => p -> row.getSeq[Long](i) }.toMap
      }

    def bloomMay(d: String, c: String, v: Any): Boolean =
      blooms.get(d).flatMap(_.get(c)) match {
        case Some((m, k, bytes)) =>
          probePositions.get((c, v, m, k)) match {
            case Some(pos) => pos.forall { p =>
              val i = p.toInt
              (bytes(i >> 3) & (1 << (i & 7))) != 0
            }
            case None => true
          }
        case None => true
      }

    // the column's decoded bounds in a directory: Some(None) = all null
    // (decided for any type, hence NullType for a column the schema
    // lacks), None = no entry or not decodable
    def range(d: String, c: String): Option[Option[(Any, Any)]] =
      stats.get(d).flatMap(_.get(c)).flatMap(
        LakeMetaAgg.bounds(dtOf(c).getOrElse(NullType), _, hists.get(d).flatMap(_.get(c))))
    def literal(c: String, v: Any): Option[Any] = dtOf(c).flatMap(LakeMetaAgg.literal(_, v))
    def cmp(a: Any, b: Any): Int = LakeMetaAgg.compare(a, b)

    // LARGE IN sets (a runtime dynamic-pruning key set can carry
    // thousands of keys): the naive per-dir `vs.exists(inRangeEq)` costs
    // O(dirs × values) driver time — sort each big set ONCE and
    // binary-search every directory's [min,max] instead,
    // O(dirs × log values). A set with a value that has no exact typed
    // form takes the per-value path, which keeps on such a value.
    val bigIns = new java.util.IdentityHashMap[Filter, Array[Any]]()
    def collectBigIns(f: Filter): Unit = f match {
      case in @ In(c, vs) if vs != null && vs.length > 64 =>
        val typed = vs.filter(_ != null).map(literal(c, _))
        if (typed.forall(_.isDefined))
          bigIns.put(in, typed.flatten.sortWith(cmp(_, _) < 0)): Unit
      case And(l, r) => collectBigIns(l); collectBigIns(r)
      case Or(l, r)  => collectBigIns(l); collectBigIns(r)
      case _         =>
    }
    filters.foreach(collectBigIns)
    // does any sorted value land inside [mn, mx]? (first value >= mn,
    // then check it's <= mx)
    def anyInRange(sorted: Array[Any], mn: Any, mx: Any): Boolean = {
      var lo = 0
      var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(sorted(mid), mn) < 0) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && cmp(sorted(lo), mx) <= 0
    }

    // can the directory hold a non-null value v with ok(min, max, v)?
    // An all-null directory cannot; an unknown bound or literal may.
    def bound(d: String, c: String, v: Any)(ok: (Any, Any, Any) => Boolean): Boolean =
      range(d, c) match {
        case Some(Some((mn, mx))) => literal(c, v).forall(ok(mn, mx, _))
        case Some(None)           => false
        case None                 => true
      }
    def inRangeEq(d: String, c: String, v: Any): Boolean =
      bound(d, c, v)((mn, mx, x) => cmp(mn, x) <= 0 && cmp(x, mx) <= 0)

    // can the directory contain a row SATISFYING f? (conservative true)
    def may(d: String, f: Filter): Boolean = f match {
      case And(l, r) => may(d, l) && may(d, r)
      case Or(l, r)  => may(d, l) || may(d, r)
      case EqualTo(c, v) if v != null =>
        inRangeEq(d, c, v) && bloomMay(d, c, v)
      case EqualNullSafe(c, null) => true // nulls aren't tracked beyond all-null
      case EqualNullSafe(c, v)    => inRangeEq(d, c, v) && bloomMay(d, c, v)
      case in @ In(c, _) if bigIns.containsKey(in) =>
        range(d, c) match {
          case Some(Some((mn, mx))) => anyInRange(bigIns.get(in), mn, mx)
          case Some(None)           => false // all-null dir: no non-null match
          case None                 => true
        }
      case In(c, vs) if vs != null =>
        vs.exists(v => v != null && inRangeEq(d, c, v) && bloomMay(d, c, v))
      case GreaterThan(c, v) if v != null        => bound(d, c, v)((_, mx, x) => cmp(mx, x) > 0)
      case GreaterThanOrEqual(c, v) if v != null => bound(d, c, v)((_, mx, x) => cmp(mx, x) >= 0)
      case LessThan(c, v) if v != null           => bound(d, c, v)((mn, _, x) => cmp(mn, x) < 0)
      case LessThanOrEqual(c, v) if v != null    => bound(d, c, v)((mn, _, x) => cmp(mn, x) <= 0)
      case IsNotNull(c) => !range(d, c).contains(None)
      case _            => true
    }

    dirs.filter(d => filters.forall(f => may(d, f)))
  }

  /** DEEP clone: materialize one retained version of `srcDir` as a brand
    * new, independent table at `dstDir` — the backup/experiment-branch
    * primitive. The clone is v0 of its own commit log with its own
    * lifecycle: source vacuum/rewrites cannot touch it (the deliberate
    * trade against a zero-copy shallow clone, whose manifests would
    * reference directories the source's vacuum is free to reclaim — a
    * cross-table lifetime entanglement this lake's single-table
    * retention contract cannot express safely). Carried over: the
    * snapshot's rows with pending merge-on-read deletes APPLIED (a clone
    * is born clean), the hive partition layout, the declared stat/bloom
    * columns (fresh filters over the clone's own directory), and the
    * CHECK constraints. Not carried: txn watermarks (a new table must
    * not suppress a writer's first batches). O(version bytes) — this IS a copy, priced like one.
    */
  /** `parentMap` (source dir -> its clone) remaps cross-table FOREIGN
    * KEY pointers into the clone set: a caller cloning a whole namespace
    * passes the same map to every cloneTable call (any order) and a
    * cloned child+parent pair declares AND enforces entirely within the
    * clones — see [[LakeConstraints.copyTo]] for the unmapped-pointer
    * downgrade rules.
    */
  def cloneTable(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      version: Option[Long] = None,
      parentMap: Map[String, String] = Map.empty): Long = {
    val v = version.getOrElse(currentVersion(spark, srcDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $srcDir")))
    require(currentVersion(spark, dstDir).isEmpty,
      s"clone target $dstDir already has a published version")
    val snap = readVersion(spark, srcDir, v)
    val statCols = dirStats(spark, srcDir, v).values.flatMap(_.keys)
      .toSeq.distinct.sorted.filter(snap.columns.contains)
    val bloomCfg = {
      val bs = dirBlooms(spark, srcDir, v)
      val cols = bs.values.flatMap(_.keys).toSeq.distinct.sorted
        .filter(snap.columns.contains)
      if (cols.isEmpty) None
      else {
        val (m, k) = bs.values.flatMap(_.values).map(t => (t._1, t._2)).maxBy(_._1)
        Some(BloomConfig(cols, m, k))
      }
    }
    val out = commit(snap, dstDir,
      parts = declaredOrPhysicalParts(spark, srcDir, v),
      statsCols = statCols, bloom = bloomCfg)
    // an evolved source's declaration steers the clone's FUTURE writes
    // the same way (the clone's single rewritten dir already follows it)
    declaredSpec(spark, srcDir, v).foreach(cols =>
      setPartitionSpec(spark, dstDir, cols): Unit)
    LakeConstraints.copyTo(spark, srcDir, dstDir, parentMap)
    out
  }

  /** Drop manifests below the published version and every data directory
    * the current manifest no longer references — ends the time-travel
    * window, never touches the live snapshot.
    */
  def vacuum(spark: SparkSession, tableDir: String): Unit =
    vacuum(spark, tableDir, keepVersions = 1)

  /** Unreferenced data directories younger than this are NOT vacuumed by
    * default: every commit path writes its data directory (durable,
    * as-yet-unreferenced) BEFORE entering the publish/retry loop, so a
    * vacuum racing an in-flight commit would otherwise delete the very
    * directory the winning manifest is about to reference — publishing a
    * version that points at deleted files. An age floor on the directory's
    * modification time (parquet's job commit renames files into the top
    * directory, refreshing it when the write completes) closes the race
    * for any commit whose write-to-publish window is shorter than the
    * floor — the same modification-time retention Delta/Iceberg vacuum
    * uses. Pass `minAgeMs = 0` only when no writer can be in flight.
    */
  val DefaultVacuumMinAgeMs: Long = 60L * 60 * 1000

  /** [[vacuum]] with a RETENTION WINDOW: keep the newest `keepVersions`
    * manifests and every data directory any of them references — the
    * shape a production lake actually runs (rollback and auditors need
    * recent history; only older-than-retention versions reclaim). Like
    * every file-based lake, vacuum is not linearizable against in-flight
    * READERS of versions it reclaims: a query planned against a
    * since-vacuumed version fails on missing files when it finally runs.
    * Size the retention above the longest-running reader (the same
    * contract as Delta's retention check), and never below 1 — the
    * current version is always kept. Unreferenced directories younger
    * than `minAgeMs` survive (see [[DefaultVacuumMinAgeMs]]: they may
    * belong to an in-flight commit that has not published yet).
    */
  def vacuum(
      spark: SparkSession,
      tableDir: String,
      keepVersions: Int,
      minAgeMs: Long = DefaultVacuumMinAgeMs): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val f = fs(spark, tableDir)
    currentVersion(spark, tableDir).foreach { cur =>
      val floor = math.max(0L, cur - (keepVersions - 1))
      // PINNED versions survive numeric retention: every named ref's
      // version (a tag must stay readable for as long as it exists —
      // refs are the retention override, like Iceberg's), and every
      // PENDING txn/WAP claim above the resolved head (its data dirs
      // are referenced by a manifest the resolver merely hides; the
      // orphan heal, not vacuum, is what reclaims dead claims).
      // Known check-then-act window, same as every file-based lake's
      // vacuum-vs-reader race: a ref created on an out-of-retention
      // version WHILE a vacuum is mid-delete may point at reclaimed
      // files. Tag within retention (a ref pins from its creation on);
      // vacuum is not linearizable against concurrent metadata either
      // here or in Delta/Iceberg.
      val pinned: Set[Long] =
        LakeRefs.list(spark, tableDir).values.map(_.version).toSet ++ {
          val manRoot = new org.apache.hadoop.fs.Path(s"$tableDir/manifest")
          if (!f.exists(manRoot)) Set.empty[Long]
          else f.listStatus(manRoot)
            .filter(_.getLen > 0)
            .flatMap(s => s.getPath.getName.stripPrefix("v=").stripSuffix(".txt")
              .toLongOption)
            .filter(_ > cur).toSet
        }
      val kept = ((floor to cur) ++ pinned).distinct
      val live = kept
        .flatMap(v => scala.util.Try(manifest(spark, tableDir, v)).getOrElse(Nil))
        .toSet
      val cutoff = System.currentTimeMillis() - minAgeMs
      val dataRoot = new org.apache.hadoop.fs.Path(s"$tableDir/data")
      if (f.exists(dataRoot))
        f.listStatus(dataRoot)
          .filter(s => s.isDirectory && !live(s.getPath.getName)
            && s.getModificationTime <= cutoff)
          .foreach(s => f.delete(s.getPath, true))
      // merge-on-read delete files are manifest-referenced state like data
      // dirs: retained while any kept manifest cites them, reclaimed (past
      // the same age floor) once materialization drops the last reference
      val liveDel = kept
        .flatMap(v => scala.util.Try(dirEqDeletes(spark, tableDir, v)).getOrElse(Nil))
        .map(_.dir).toSet
      val delRoot = new org.apache.hadoop.fs.Path(s"$tableDir/deletes")
      if (f.exists(delRoot))
        f.listStatus(delRoot)
          .filter(s => s.isDirectory && !liveDel(s.getPath.getName)
            && s.getModificationTime <= cutoff)
          .foreach(s => f.delete(s.getPath, true))
      // change artifacts follow the same rule: live while any kept
      // manifest cites one, reclaimed past the age floor afterwards
      val liveChg = kept
        .flatMap(v => scala.util.Try(changesArtifact(spark, tableDir, v))
          .toOption.flatten)
        .toSet
      val chgRoot = new org.apache.hadoop.fs.Path(s"$tableDir/changes")
      if (f.exists(chgRoot))
        f.listStatus(chgRoot)
          .filter(s => s.isDirectory && !liveChg(s.getPath.getName)
            && s.getModificationTime <= cutoff)
          .foreach(s => f.delete(s.getPath, true))
      val manRoot = new org.apache.hadoop.fs.Path(s"$tableDir/manifest")
      f.listStatus(manRoot)
        .filter { s =>
          s.getPath.getName.stripPrefix("v=").stripSuffix(".txt")
            .toLongOption.exists(v => v < floor && !pinned(v))
        }
        .foreach(s => f.delete(s.getPath, false))
    }
  }
}
