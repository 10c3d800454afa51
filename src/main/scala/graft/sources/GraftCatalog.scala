package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark `TableCatalog` over a directory tree of [[VersionedLake]]
  * tables — the piece that makes the lake a first-class SQL citizen:
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.root = /warehouse
  *
  * CREATE TABLE graft.db.events (id BIGINT, day STRING) PARTITIONED BY (day)
  * INSERT INTO graft.db.events SELECT ...
  * SELECT * FROM graft.db.events                       -- snapshot-isolated scan
  * SELECT * FROM graft.db.events VERSION AS OF 3       -- time travel
  * SELECT * FROM graft.db.events TIMESTAMP AS OF '...' -- commit-time travel
  * ALTER TABLE graft.db.events ADD COLUMN note STRING  -- union-by-name evolution
  * }}}
  *
  * Layout: `root/<namespace...>/<table>` — a table is any directory with
  * a published lake version; a namespace is any other directory. All
  * catalog metadata IS the lake's own commit log: no side database, so
  * catalog readers inherit snapshot isolation, optimistic-concurrency
  * commits and time travel from the manifest machinery, and a table
  * written through the library API is immediately queryable by name.
  *
  * Reads resolve the manifest (version pin or current) and delegate the
  * scan to Spark's stock parquet DSv2 scan over exactly the version's
  * directories ([[org.apache.spark.sql.graft.LakePruningScanBuilder]]) —
  * full pushdown/pruning/vectorization, zero custom scan code. Writes go
  * through the V1 `InsertableRelation` bridge into [[VersionedLake]]
  * commits: INSERT INTO appends (O(delta), schema merged union-by-name),
  * INSERT OVERWRITE publishes a full snapshot, both layout-aligned with
  * the table's existing hive partitioning. At 100 TB the catalog adds
  * only manifest-metadata reads per query — table size never enters
  * resolution cost.
  *
  * A version with PENDING merge-on-read deletes reads through: the scan
  * plans the same scoped broadcast anti-join [[VersionedLake.read]]
  * uses (via the V1 bridge, with pushed filters/columns baked into the
  * bridged plan), trading the clean path's metadata-only shortcuts for
  * correctness until `materializeDeletes` folds the debt. Deliberate
  * refusals: writes to a time-travel snapshot are rejected.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires option spark.sql.catalog.$name.root=<dir>"))
  }

  override def name(): String = catalogName

  /** CREATE/ALTER with column DEFAULT values is accepted: defaults ride
    * the committed schema's field metadata (Spark's own
    * CURRENT_DEFAULT/EXISTS_DEFAULT keys), so INSERTs omitting the
    * column fill the current default at write and files predating the
    * column fill the existence default at read - a 100 TB backfill that
    * never happens.
    */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Path-traversal guard: identifier parts become path segments. */
  private def seg(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && !s.contains("\\") && s != "." && s != "..",
      s"illegal identifier segment: '$s'")
    s
  }

  private def dirOf(ident: Identifier): String =
    (root +: ident.namespace.toSeq.map(seg) :+ seg(ident.name)).mkString("/")

  private def nsDir(namespace: Array[String]): String =
    (root +: namespace.toSeq.map(seg)).mkString("/")

  private def fs = new Path(root).getFileSystem(
    spark.sessionState.newHadoopConf())

  private def isTable(dir: String): Boolean =
    VersionedLake.currentVersion(spark, dir).isDefined

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = new Path(nsDir(namespace))
    if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(d).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => isTable(s"${nsDir(namespace)}/$n"))
      .sorted.map(Identifier.of(namespace, _))
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `` graft.`t$history` `` etc. — SQL
    // observability over the commit log without leaving the query engine
    ident.name.split('$') match {
      case Array(base, kind) if MetaKinds.contains(kind) =>
        return metaTable(Identifier.of(ident.namespace, base), kind)
      case Array(base, "changes") =>
        val d = dirOf(Identifier.of(ident.namespace, base))
        if (!isTable(d)) throw new NoSuchTableException(ident)
        return new LakeChangesTable(spark, s"${ident.toString}", d)
      case _ =>
    }
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // durable MV rediscovery: a registration persisted on the table's
    // props re-registers the moment ANY session resolves the table by
    // name (consulted once per corpus per JVM — O(1) afterwards)
    LakeMv.registerFromProps(spark, dir)
    TextIndexes.registerFromProps(spark, dir)
    new LakeTable(spark, ident.toString, dir, pinnedVersion = None)
  }

  private val MetaKinds =
    Set("history", "files", "constraints", "stats", "refs", "partitions", "deletes")

  // ---- procedures (CALL graft.system.<proc>) -----------------------------

  /** Maintenance as SQL: `CALL <cat>.system.vacuum/optimize/rollback/
    * clone_table/replicate(...)` — table-name arguments resolve through
    * this catalog's own directory scheme (dotted = namespace segments),
    * so the procedures operate on exactly the tables SELECT sees.
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live under the 'system' namespace: CALL $catalogName.system.${ident.name}(...)")
    GraftProcedures.load(spark, ident.name, tbl => {
      val parts = tbl.split('.').toSeq
      (root +: parts.map(seg)).mkString("/")
    })
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  /** The metadata row-sets are tiny by construction (versions within the
    * vacuum retention window; data directories of ONE version; declared
    * constraints) — a LocalScan materialized at plan time is the right
    * shape, not a distributed read.
    */
  private def metaTable(base: Identifier, kind: String): Table = {
    val s = spark
    import s.implicits._
    val dir = dirOf(base)
    if (!isTable(dir)) throw new NoSuchTableException(base)
    val df = kind match {
      case "history" =>
        val mtimes = fs.listStatus(new Path(s"$dir/manifest"))
          .flatMap(st => st.getPath.getName.stripPrefix("v=").stripSuffix(".txt")
            .toLongOption.map(_ -> st.getModificationTime)).toMap
        VersionedLake.history(s, dir).map { case (v, nDirs, nCols, txns) =>
          (v,
            new java.sql.Timestamp(mtimes.getOrElse(v, 0L)),
            nDirs, nCols,
            txns.toSeq.sortBy(_._1).map { case (a, b) => s"$a=$b" }.mkString(","))
        }.toDF("version", "committed_at", "data_dirs", "columns", "txns")
      case "files" =>
        val v = VersionedLake.currentVersion(s, dir).get
        val stats = VersionedLake.dirStats(s, dir, v)
        // rows/bytes and the partition spec ride the manifest, so the
        // maintenance questions (skew across directories, which dirs
        // carry which layout after a spec evolution, compaction targets)
        // answer without touching a data file
        val rows = VersionedLake.dirRowCounts(s, dir, v)
        val parts = VersionedLake.dirParts(s, dir, v)
        VersionedLake.manifest(s, dir, v).map { d =>
          val st = stats.getOrElse(d, Map.empty).toSeq.sortBy(_._1)
            .map { case (c, (mn, mx)) =>
              s"$c:[${mn.getOrElse("null")},${mx.getOrElse("null")}]"
            }.mkString("; ")
          (d,
            rows.get(d).map(_._1).getOrElse(-1L),
            rows.get(d).map(_._2).getOrElse(-1L),
            parts.getOrElse(d, Nil).mkString(","),
            st)
        }.toDF("dir", "rows", "bytes", "parts", "stats")
      case "constraints" =>
        (LakeConstraints.constraintsOf(s, dir) ++
          LakeConstraints.uniquesOf(s, dir).map { case (n, cols) =>
            n -> s"UNIQUE(${cols.mkString(",")})"
          } ++
          LakeConstraints.fksOf(s, dir).map { case (n, (cols, pd, pc)) =>
            n -> s"FOREIGN KEY(${cols.mkString(",")}) REFERENCES $pd(${pc.mkString(",")})"
          } ++
          LakeConstraints.restrictsOf(s, dir).map { case (n, (cd, cc, pc)) =>
            n -> s"RESTRICT(${pc.mkString(",")}) <- $cd(${cc.mkString(",")})"
          }).toDF("name", "check")
      case "deletes" =>
        // pending MERGE-ON-READ delete debt: one row per delete file at
        // the current version — kind (position/equality), key columns,
        // scoped-directory count, and the EXACT recorded deleted-row
        // total where the commit knew it (position deletes; null =
        // unknown, keyed deletes never read data at commit). The
        // "how much debt is materializeDeletes carrying" dashboard at
        // 100 TB, straight off the manifest — and the explanation for
        // why a count(*) did or didn't stay metadata-only.
        val v = VersionedLake.currentVersion(s, dir).get
        val live = VersionedLake.manifest(s, dir, v).toSet
        VersionedLake.dirEqDeletes(s, dir, v)
          .filter(_.dirs.exists(live.contains))
          .map { e =>
            val scoped = e.dirs.count(live.contains)
            val counted = e.counts.filter { case (d, _) => live.contains(d) }
            (e.dir,
              if (VersionedLake.isPosDelete(e)) "position" else "equality",
              e.keys.mkString(","),
              scoped,
              if (counted.isEmpty) null
              else java.lang.Long.valueOf(counted.values.sum))
          }.toDF("file", "kind", "keys", "scoped_dirs", "deleted_rows")
      case "refs" =>
        // named refs (tags + branches) with each target's commit op —
        // `` SELECT * FROM graft.`t$refs` `` answers "what can I VERSION
        // AS OF by name, and is it older than the WAP branch I staged"
        LakeRefs.list(s, dir).toSeq.sortBy(_._1).map { case (n, r) =>
          (n, r.kind, r.version,
            VersionedLake.commitOp(s, dir, r.version).orNull)
        }.toDF("name", "kind", "version", "op")
      case "partitions" =>
        // the partition-spec landscape: one row per DISTINCT spec over
        // the current version's directories (+ the declared spec for NEW
        // writes, flagged) — rows/bytes/dirs per spec straight off the
        // manifest, zero file opens. This is the table that answers "did
        // my spec evolution take, and how much data still lives under
        // the old layout" (= how much a migrating OPTIMIZE would move).
        val v = VersionedLake.currentVersion(s, dir).get
        val rows = VersionedLake.dirRowCounts(s, dir, v)
        val specs = VersionedLake.dirParts(s, dir, v)
        val declared = VersionedLake.declaredOrPhysicalParts(s, dir, v)
        val live = VersionedLake.manifest(s, dir, v)
          .filter(d => rows.get(d).forall(_._1 > 0))
        val grouped = live.groupBy(d => specs.getOrElse(d, Nil)).toSeq
        val present = grouped.map { case (spec, ds) =>
          (spec.mkString(","), ds.size,
            ds.flatMap(rows.get).map(_._1).sum,
            ds.flatMap(rows.get).map(_._2).sum,
            spec == declared)
        }
        val all =
          if (grouped.exists(_._1 == declared)) present
          else present :+ ((declared.mkString(","), 0, 0L, 0L, true))
        all.sortBy(_._1)
          .toDF("spec", "data_dirs", "rows", "bytes", "writes_here")
      case "stats" =>
        // column-level statistics off the manifest's NDV + stats layers
        // (the `CALL system.column_stats` answer as a metadata table):
        // merged HLL distinct-count estimate, exact null count, and the
        // stored-string min/max per covered stats column — O(dirs)
        // metadata, zero file opens
        val v = VersionedLake.currentVersion(s, dir).get
        val rowsMeta = VersionedLake.dirRowCounts(s, dir, v)
        val ndv = VersionedLake.dirNdv(s, dir, v)
        val stats = VersionedLake.dirStats(s, dir, v)
        val live = VersionedLake.manifest(s, dir, v)
          .filter(d => rowsMeta.get(d).forall(_._1 > 0))
        val perDir = live.map(ndv.getOrElse(_, Map.empty))
        val covered =
          if (perDir.isEmpty) Set.empty[String]
          else perDir.map(_.keySet).reduce(_ intersect _)
        val schema0 = VersionedLake.versionSchema(s, dir, v)
        val hist = VersionedLake.dirHist(s, dir, v)
        // the stored string of the directory holding the extreme by
        // decoded value, like every pruner ("9" < "10" numerically);
        // null when a bound does not decode or every value is null
        def pick(c: String, takeMin: Boolean): String = {
          val dt = schema0.flatMap(_.fields.find(_.name == c)).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.NullType)
          val ds = live.filter(d => stats.get(d).exists(_.contains(c)))
          LakeMetaAgg.mergedBound(dt, c, ds, stats, hist, takeMin).flatten
            .flatMap { case (d, _) => if (takeMin) stats(d)(c)._1 else stats(d)(c)._2 }.orNull
        }
        // histogram coverage: ask the SCAN's own merge whether a
        // histogram would actually be served — running the same code is
        // the only way the diagnostic cannot drift from the behavior it
        // diagnoses (all-null dirs are skipped there, point columns and
        // truncated edge sets return None; a hand-copied predicate here
        // already disagreed once)
        val served = org.apache.spark.sql.graft.LakePruningScanBuilder
          .columnStatsFor(VersionedLake.manifest(s, dir, v), rowsMeta, ndv,
            stats, schema0.getOrElse(new org.apache.spark.sql.types.StructType()),
            hist)
        def histBins(c: String): Int = {
          val k = org.apache.spark.sql.connector.expressions.Expressions.column(c)
          if (Option(served.get(k)).exists(_.histogram().isPresent))
            VersionedLake.HistBins else 0
        }
        // merged heavy hitters off the frequent-values layer (string
        // columns; scan-side coverage rule), "v:est" top-5 — the "what
        // is this column's skew" diagnostic with zero file opens
        val freq = VersionedLake.dirFreq(s, dir, v)
        def topValues(c: String): String = {
          val liveNonEmpty = live.filter(d => rowsMeta.get(d).exists(_._1 > 0))
          if (liveNonEmpty.isEmpty ||
            !liveNonEmpty.forall(d => freq.get(d).exists(_.contains(c)))) null
          else graft.functions.FreqSketch
            .topK(liveNonEmpty.map(d => freq(d)(c)), 5)
            .map { case (value, est) => s"$value:$est" }.mkString(",")
        }
        // exact table sum off the "s" layer — rendered as the decimal
        // string; null when any live non-all-null dir lacks its entry
        // (legacy/overflow/unsummable), the consumer-visible face of the
        // same coverage rule the metadata-aggregate path applies
        val sums = VersionedLake.dirSums(s, dir, v)
        def sumOf(c: String): String = {
          val liveNonEmpty = live.filter(d => rowsMeta.get(d).exists(_._1 > 0))
          val parts = liveNonEmpty.map { d =>
            sums.get(d).flatMap(_.get(c)) match {
              case Some(b) => Some(Some(b))
              case None =>
                ndv.get(d).flatMap(_.get(c)) match {
                  case Some((_, n)) if rowsMeta.get(d).exists(_._1 == n) => Some(None)
                  case _ => None
                }
            }
          }
          if (parts.exists(_.isEmpty)) null
          else {
            val vs = parts.flatten.flatten
            if (vs.isEmpty) null else vs.reduce(_.add(_)).toPlainString
          }
        }
        covered.toSeq.sorted.map { c =>
          val entries = perDir.map(_(c))
          (c,
            VersionedLake.ndvEstimate(entries.map(_._1)),
            entries.map(_._2).sum,
            pick(c, takeMin = true),
            pick(c, takeMin = false),
            histBins(c),
            topValues(c),
            sumOf(c))
        }.toDF("column", "ndv", "nulls", "min", "max", "hist_bins", "top_values",
          "sum")
    }
    new LocalRowsTable(s"${base.toString}$$$kind", df)
  }

  /** `VERSION AS OF n` — a pinned, immutable, read-only snapshot. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    // a non-numeric version is a NAMED REF: `VERSION AS OF 'release-1'`
    // resolves tags and WAP branches (a branch resolves to its staged
    // version, which reads fine pinned even while head-invisible)
    // the refs store is consulted LAZILY: the common numeric
    // `VERSION AS OF 3` inside range must not pay a refs/ listing
    lazy val refs = LakeRefs.list(spark, dir)
    val numeric = version.trim.toLongOption
    val v = numeric.orElse(
      refs.get(version.trim).map(_.version)).getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF expects a number or a named ref, got '$version' " +
          s"(refs: ${refs.keys.toSeq.sorted.mkString(", ")})"))
    val cur = VersionedLake.currentVersion(spark, dir)
    if (numeric.isDefined && v >= 0 && cur.exists(v <= _)) ()
    else {
      // a ref may pin a version the HEAD resolver hides (a WAP branch at
      // the table's first, still-pending commit): the ref itself proves
      // the table and the version exist
      val isReffed = refs.values.exists(_.version == v)
      if (cur.isEmpty && !isReffed) throw new NoSuchTableException(ident)
      require(v >= 0 && (isReffed || cur.exists(v <= _)),
        s"version $v out of range [0, ${cur.getOrElse(-1L)}] for $ident")
    }
    new LakeTable(spark, s"$ident@v$v", dir, pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF t` — the newest version whose manifest was
    * published at or before `t` (manifest-file modification time, the
    * same clock vacuum's retention uses). `timestamp` is in MICROSECONDS
    * since epoch per the TableCatalog contract.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val manifests = fs.listStatus(new Path(s"$dir/manifest"))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").stripSuffix(".txt")
        .toLongOption.map(_ -> s.getModificationTime))
    val cutoffMs = timestamp / 1000L
    val v = manifests.filter(_._2 <= cutoffMs).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no version of $ident existed at timestamp $timestamp (earliest manifest is newer)"))
    new LakeTable(spark, s"$ident@v$v", dir, pinnedVersion = Some(v))
  }

  /** 'fk.<name>' = '<cols> REFERENCES <table> (<pcols>) [ON DELETE
    * RESTRICT]' — the parent resolves through this catalog's own
    * directory scheme. Shared by CREATE TABLE TBLPROPERTIES and ALTER
    * TABLE SET TBLPROPERTIES. The optional RESTRICT clause opts the
    * PARENT's delete/update paths into refusing removals of
    * still-referenced keys (see [[LakeConstraints.enforceRestrict]]).
    */
  private def addFkProperty(dir: String, name: String, value: String): Unit = {
    val FkSpec =
      """(?i)\s*([\w\s,]+?)\s+REFERENCES\s+([\w.]+)\s*\(([\w\s,]+)\)\s*(ON\s+DELETE\s+RESTRICT\s*)?""".r
    value match {
      case FkSpec(cols, parent, pcols, restrict) =>
        LakeConstraints.addFk(spark, dir, name,
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          (root +: parent.split('.').toSeq.map(seg)).mkString("/"),
          pcols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          restrict = restrict != null)
      case other => throw new IllegalArgumentException(
        s"fk property wants '<cols> REFERENCES <table> (<pcols>) " +
          s"[ON DELETE RESTRICT]', got '$other'")
    }
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val parts = partitions.toSeq.map {
      case t if t.name == "identity" => t.references.head.fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft catalog supports identity partitioning only, got transform '$t'")
    }
    parts.foreach(p => require(schema.fieldNames.contains(p),
      s"partition column '$p' not in schema"))
    // skipping layers declared at DDL time: TBLPROPERTIES('stats.cols'=
    // 'a,b', 'bloom.cols'='c' [, 'bloom.bits', 'bloom.k']) — the empty
    // create commit carries the declaration in its manifest, and every
    // later INSERT continues it (the write path's carry rule), so a pure
    // SQL user gets dir-level pruning without ever touching the library
    def csv(key: String): Seq[String] = Option(properties.get(key))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val statsCols = csv("stats.cols")
    val bloomCols = csv("bloom.cols")
    (statsCols ++ bloomCols).foreach(c => require(schema.fieldNames.contains(c),
      s"skipping-layer column '$c' not in schema"))
    val bloom =
      if (bloomCols.isEmpty) None
      else Some(VersionedLake.BloomConfig(bloomCols,
        bits = Option(properties.get("bloom.bits")).map(_.toInt).getOrElse(1 << 20),
        k = Option(properties.get("bloom.k")).map(_.toInt).getOrElse(7)))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    VersionedLake.commit(empty, dir, parts = parts, statsCols = statsCols, bloom = bloom)
    // the hive layout is self-describing ONLY once data exists — an
    // empty create dir records no k=v chain, so without a declared
    // carrier the first INSERT would silently write FLAT and the
    // partitioning would be lost forever. The declaration lives in the
    // table props; physical layout takes precedence once data lands.
    if (parts.nonEmpty) LakeProps.set(spark, dir, "table.parts", parts.mkString(","))
    // CHECK constraints from DDL: TBLPROPERTIES('check.<name>'='<predicate>')
    // — declared on the empty table, so the snapshot validation is free
    // and every later write (SQL or library) is gated
    properties.asScala.toSeq.sortBy(_._1).foreach {
      case (k, pred) if k.startsWith("check.") =>
        LakeConstraints.add(spark, dir, k.stripPrefix("check."), pred)
      case (k, v) if k.startsWith("unique.") =>
        // declared on the empty table, so the snapshot validation is
        // free and every later write is gated — same as check.
        LakeConstraints.addUnique(spark, dir, k.stripPrefix("unique."),
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case (k, v) if k.startsWith("fk.") =>
        addFkProperty(dir, k.stripPrefix("fk."), v)
      case (k, v) if k.startsWith("cdc.") || k == "spj.enabled" ||
          k == "delete.mode" || k == "update.mode" =>
        LakeProps.set(spark, dir, k, v)
      case _ =>
    }
    new LakeTable(spark, ident.toString, dir, pinnedVersion = None)
  }

  /** ADD COLUMN (as the lake's union-by-name evolution: an empty append
    * whose batch schema carries the new fields — prior directories read
    * them as null) and SET/UNSET TBLPROPERTIES for the DDL-declared
    * services: `check.<name>` adds/drops a CHECK constraint (snapshot-
    * validated, like the library call), `stats.cols`/`bloom.cols` (+
    * `bloom.bits`/`bloom.k`) declare skipping layers from now on — an
    * empty append carries the declaration, and the INSERT carry rule
    * propagates it to every later write; already-committed directories
    * keep whatever they declared (retrofitting them would be a rewrite —
    * that is OPTIMIZE's job). RENAME/DROP COLUMN and ALTER COLUMN TYPE
    * (widening only) ride the metadata-only commits
    * ([[VersionedLake.renameColumn]]/[[VersionedLake.dropColumn]]/
    * [[VersionedLake.widenColumn]]); anything else is refused.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val cur = VersionedLake.currentVersion(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    val prior = VersionedLake.versionSchema(spark, dir, cur)
      .getOrElse(VersionedLake.readVersion(spark, dir, cur).schema)
    // one change list mixing a name mutation (RENAME/DROP, each its own
    // commit executed mid-loop) with ADD COLUMN is refused UP FRONT: the
    // add guards validate names against the pre-loop snapshot, so letting
    // the mix proceed could rebind a just-created former name or publish
    // a duplicate field — and failing later would leave the rename/drop
    // commit published with the add lost (a half-applied ALTER). Only
    // reachable via the DSv2 API; SQL sends one change per statement.
    locally {
      val mutatesNames = changes.exists {
        case _: TableChange.RenameColumn | _: TableChange.DeleteColumn => true
        case _ => false
      }
      require(!(mutatesNames && changes.exists(_.isInstanceOf[TableChange.AddColumn])),
        "one ALTER mixing RENAME/DROP COLUMN with ADD COLUMN is not " +
          "supported (name guards cannot straddle the intermediate " +
          "commits); issue the changes as separate ALTER statements")
    }
    val added = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.types.StructField]
    var statsCols: Seq[String] = Nil
    var bloomCols: Seq[String] = Nil
    var bloomBits = 1 << 20
    var bloomK = 7
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"nested ADD COLUMN not supported: ${a.fieldNames.mkString(".")}")
        val nm = a.fieldNames.head
        // tombstones and former names are invisible to SQL but still own
        // their bytes in old files — rebinding either would resurrect data
        prior.fields.find(p => p.name.equalsIgnoreCase(nm)).foreach { p =>
          require(!VersionedLake.isDropped(p),
            s"cannot add column '$nm': it was dropped and old files still " +
              "carry data under it")
        }
        require(!prior.fields.exists(p =>
          VersionedLake.akaNames(p).exists(_.equalsIgnoreCase(nm))),
          s"cannot add column '$nm': it is a former name of a renamed column " +
            "and old files still carry data under it")
        require(!prior.fields.exists(p =>
          p.name.equalsIgnoreCase(nm) && !VersionedLake.isDropped(p)) &&
          !added.exists(_.name.equalsIgnoreCase(nm)),
          s"cannot add column '$nm': it already exists")
        // ADD COLUMN ... DEFAULT v: metadata-only at any scale. The
        // current default (future INSERTs) and the existence default
        // (files predating the column, applied by the parquet readers
        // off the schema metadata) both record the ANALYZED, folded
        // literal - Spark's own default-column keys, so every fill path
        // is stock machinery.
        val md = Option(a.defaultValue()).map { dv =>
          val lit = dv.getValue
          val existsSql = org.apache.spark.sql.catalyst.expressions.Literal(
            lit.value, lit.dataType).sql
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", Option(dv.getSql).getOrElse(existsSql))
            .putString("EXISTS_DEFAULT", existsSql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        added += org.apache.spark.sql.types.StructField(
          nm, a.dataType, nullable = true, md)
      case p: TableChange.SetProperty if p.property.startsWith("check.") =>
        LakeConstraints.add(spark, dir, p.property.stripPrefix("check."), p.value)
      case p: TableChange.RemoveProperty if p.property.startsWith("check.") =>
        LakeConstraints.drop(spark, dir, p.property.stripPrefix("check."),
          kind = Some("check"))
      case p: TableChange.SetProperty if p.property.startsWith("unique.") =>
        LakeConstraints.addUnique(spark, dir, p.property.stripPrefix("unique."),
          p.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case p: TableChange.RemoveProperty if p.property.startsWith("unique.") =>
        LakeConstraints.drop(spark, dir, p.property.stripPrefix("unique."),
          kind = Some("unique"))
      case p: TableChange.SetProperty if p.property.startsWith("fk.") =>
        addFkProperty(dir, p.property.stripPrefix("fk."), p.value)
      case p: TableChange.RemoveProperty if p.property.startsWith("fk.") =>
        LakeConstraints.drop(spark, dir, p.property.stripPrefix("fk."),
          kind = Some("fk"))
      case p: TableChange.SetProperty if p.property == "stats.cols" =>
        statsCols = p.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case p: TableChange.SetProperty if p.property == "bloom.cols" =>
        bloomCols = p.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case p: TableChange.SetProperty if p.property == "bloom.bits" =>
        bloomBits = p.value.toInt
      case p: TableChange.SetProperty if p.property == "bloom.k" =>
        bloomK = p.value.toInt
      case p: TableChange.SetProperty
          if p.property.startsWith("cdc.") || p.property == "spj.enabled" ||
            p.property == "delete.mode" || p.property == "update.mode" =>
        LakeProps.set(spark, dir, p.property, p.value)
      case p: TableChange.RemoveProperty
          if p.property.startsWith("cdc.") || p.property == "spj.enabled" ||
            p.property == "delete.mode" || p.property == "update.mode" =>
        LakeProps.unset(spark, dir, p.property)
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          s"nested ALTER COLUMN DEFAULT not supported: ${u.fieldNames.mkString(".")}")
        // empty string = DROP DEFAULT (Spark's encoding); the existence
        // default stays - SET DEFAULT is policy for FUTURE inserts, never
        // a rewrite of what old rows mean
        VersionedLake.setColumnDefault(spark, dir, u.fieldNames.head,
          Option(u.newDefaultValue()).filter(_.nonEmpty)): Unit
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"nested RENAME COLUMN not supported: ${r.fieldNames.mkString(".")}")
        VersionedLake.renameColumn(spark, dir, r.fieldNames.head, r.newName): Unit
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"nested DROP COLUMN not supported: ${d.fieldNames.mkString(".")}")
        VersionedLake.dropColumn(spark, dir, d.fieldNames.head): Unit
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          s"nested ALTER COLUMN TYPE not supported: ${u.fieldNames.mkString(".")}")
        VersionedLake.widenColumn(spark, dir, u.fieldNames.head, u.newDataType): Unit
      case c => throw new UnsupportedOperationException(
        s"graft catalog supports ADD COLUMN, RENAME COLUMN, DROP COLUMN, " +
          s"ALTER COLUMN TYPE (widening) and check./stats./bloom. properties, got $c")
    }
    if (added.nonEmpty || statsCols.nonEmpty || bloomCols.nonEmpty) {
      // re-read the CURRENT schema: a change list mixing rename/drop/widen
      // (each its own commit, executed above) with ADD COLUMN would
      // otherwise publish a schema built from the pre-loop snapshot — a
      // half-applied ALTER failing at the aka/tombstone guard AFTER the
      // earlier commits landed (reachable via the DSv2 API, not SQL)
      val base = VersionedLake.currentVersion(spark, dir)
        .flatMap(v => VersionedLake.versionSchema(spark, dir, v))
        .getOrElse(prior)
      val widened = StructType(base.fields ++ added)
      (statsCols ++ bloomCols).foreach(c => require(widened.fieldNames.contains(c),
        s"skipping-layer column '$c' not in schema"))
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), widened)
      VersionedLake.appendCommit(empty, dir,
        parts = VersionedLake.partitionColumns(spark, dir, cur),
        statsCols = statsCols,
        bloom = if (bloomCols.isEmpty) None
        else Some(VersionedLake.BloomConfig(bloomCols, bloomBits, bloomK)))
    }
    new LakeTable(spark, ident.toString, dir, pinnedVersion = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) false
    else fs.delete(new Path(dir), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!isTable(dirOf(oldIdent))) throw new NoSuchTableException(oldIdent)
    require(!fs.exists(new Path(dirOf(newIdent))), s"$newIdent already exists")
    fs.mkdirs(new Path(dirOf(newIdent)).getParent)
    require(fs.rename(new Path(dirOf(oldIdent)), new Path(dirOf(newIdent))),
      s"rename $oldIdent -> $newIdent failed")
  }

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    fs.listStatus(new Path(root)).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => isTable(s"$root/$n")).sorted.map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val d = new Path(nsDir(namespace))
      if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace)
      fs.listStatus(d).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => isTable(s"${nsDir(namespace)}/$n"))
        .sorted.map(namespace :+ _)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty || fs.exists(new Path(nsDir(namespace))))
      util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path(nsDir(namespace)))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = new Path(nsDir(namespace))
    if (!fs.exists(d)) false
    else {
      if (!cascade)
        require(fs.listStatus(d).isEmpty, s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(d, true)
    }
  }
}

/** A small, driver-materialized row-set as a read-only DSv2 table —
  * the vehicle for [[GraftCatalog]]'s `$history`/`$files`/`$constraints`
  * metadata tables. The frame is planned lazily: rows materialize when
  * the scan builds, so `SELECT` sees the state AT QUERY TIME.
  */
final class LocalRowsTable(
    tableName: String,
    df: org.apache.spark.sql.DataFrame) extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect()
          override def readSchema(): StructType = df.schema
        }
    }
}

/** The row-level CDC feed as a SQL-reachable table: `` graft.`t$changes` ``
  * is [[VersionedLake.readRowChanges]] over the full retained history,
  * with `_commit_version` predicates PUSHED DOWN to bound the window —
  * `WHERE _commit_version > 3 AND _commit_version <= 5` reconstructs
  * versions 4..5 only, never the whole log, which is what makes the
  * Delta-CDF-shaped contract usable from SQL on a 10k-commit table. The
  * scan plans through the V1 bridge as the feed DataFrame's own
  * distributed plan (artifact/parquet reads and the MoR pre-image joins
  * all execute on executors); every filter is re-applied post-scan, so
  * pushdown only narrows versions, never rows.
  */
final class LakeChangesTable(
    spark: SparkSession,
    tableName: String,
    tableDir: String) extends Table with SupportsRead {
  import org.apache.spark.sql.sources._

  private val feedSchema: StructType = {
    val cur = VersionedLake.currentVersion(spark, tableDir)
      .getOrElse(throw new IllegalStateException(s"no published version in $tableDir"))
    val base = VersionedLake.visibleSchema(
      VersionedLake.versionSchema(spark, tableDir, cur)
        .getOrElse(VersionedLake.readVersion(spark, tableDir, cur).schema))
    StructType(base.fields.map(_.copy(nullable = true)))
      .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)
  }

  override def name(): String = tableName
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      // (from, to] window bounds, narrowed by every _commit_version
      // conjunct Spark pushes; conservative on anything else
      private var fromV = -1L
      private var toV = VersionedLake.currentVersion(spark, tableDir).getOrElse(-1L)

      private def narrow(f: Filter): Unit = f match {
        case GreaterThan("_commit_version", v: Long)         => fromV = math.max(fromV, v)
        case GreaterThan("_commit_version", v: Int)          => fromV = math.max(fromV, v.toLong)
        case GreaterThanOrEqual("_commit_version", v: Long)  => fromV = math.max(fromV, v - 1)
        case GreaterThanOrEqual("_commit_version", v: Int)   => fromV = math.max(fromV, v.toLong - 1)
        case LessThan("_commit_version", v: Long)            => toV = math.min(toV, v - 1)
        case LessThan("_commit_version", v: Int)             => toV = math.min(toV, v.toLong - 1)
        case LessThanOrEqual("_commit_version", v: Long)     => toV = math.min(toV, v)
        case LessThanOrEqual("_commit_version", v: Int)      => toV = math.min(toV, v.toLong)
        case EqualTo("_commit_version", v: Long)             => fromV = math.max(fromV, v - 1); toV = math.min(toV, v)
        case EqualTo("_commit_version", v: Int)              => fromV = math.max(fromV, v.toLong - 1); toV = math.min(toV, v.toLong)
        case And(l, r)                                       => narrow(l); narrow(r)
        case _                                               => ()
      }

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        filters.foreach(narrow)
        filters // all residual: version narrowing is additive, rows re-filter
      }
      override def pushedFilters(): Array[Filter] = Array.empty

      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = feedSchema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              ctx: org.apache.spark.sql.SQLContext): T = {
            import org.apache.spark.sql.functions.{col, lit}
            val df0 =
              if (toV < 0 || fromV > toV)
                ctx.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](), feedSchema)
              else VersionedLake.readRowChanges(
                ctx.sparkSession, tableDir, math.max(-1L, fromV), toV)
            // a narrowed window ends at toV's schema; align to the
            // table's current schema — by FORMER name for renamed
            // columns (fieldAliases links names across the (toV,
            // current] span, surviving compactions that shed the aka
            // metadata), null for columns that did not exist yet. The
            // walk reads one schema per version of the span, so pay it
            // ONLY when the window's names actually misalign — a
            // rename-free history plans in O(1) regardless of age
            val misaligned = feedSchema.fields.exists(f =>
              !f.name.startsWith("_") && !df0.columns.contains(f.name))
            val curV = VersionedLake.currentVersion(ctx.sparkSession, tableDir)
              .getOrElse(-1L)
            val aliases =
              if (!misaligned) Map.empty[String, Seq[String]]
              else VersionedLake.fieldAliases(
                ctx.sparkSession, tableDir, feedSchema,
                math.max(-1L, toV - 1), curV)
            // one shared projection with the library read
            // ([[VersionedLake.alignToSchema]]): coalesce name variants,
            // null-fill unseen fields, cast up across a widen
            val df = VersionedLake.alignToSchema(df0, feedSchema, aliases)
            (new BaseRelation with TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = ctx
              override def schema: StructType = feedSchema
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
                df.rdd
            }).asInstanceOf[T]
          }
          override def description(): String =
            s"GraftLakeChanges($tableName, ($fromV, $toV])"
        }
    }
}

/** `sources.Filter` → `Column` for the predicates SQL DELETE can push
  * whole — a filter outside this set makes `canDeleteWhere` refuse, so
  * Spark errors instead of silently deleting by a half-translated
  * predicate.
  */
private[sources] object FilterToColumn {
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def apply(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r)                => for { lc <- apply(l); rc <- apply(r) } yield lc && rc
    case Or(l, r)                 => for { lc <- apply(l); rc <- apply(r) } yield lc || rc
    case Not(c)                   => apply(c).map(!_)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case _: AlwaysTrue            => Some(lit(true))
    case _: AlwaysFalse           => Some(lit(false))
    case _                        => None
  }
}

/** One lake table (optionally pinned to a time-travel version) as a
  * DSv2 `Table`. See [[GraftCatalog]] for the read/write contracts.
  * `DELETE FROM` routes through [[VersionedLake.deleteWhere]]'s minimal
  * copy-on-write (stats/bloom-pruned directory attribution), so a SQL
  * delete pays the same O(affected directories) the library call does.
  */
final class LakeTable(
    spark: SparkSession,
    identName: String,
    val tableDir: String,
    val pinnedVersion: Option[Long]) extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with TruncatableTable with SupportsPartitionManagement {

  // ---- partition management (SHOW PARTITIONS / ALTER ... DROP PARTITION)
  //
  // Partitions here are IMPLICIT — hive `k=v` directory levels under the
  // manifest's data dirs, created by writes and removed by rewrites — so
  // only the observing/deleting operations have semantics: SHOW
  // PARTITIONS walks the directory levels (O(partition dirs) metadata
  // listings, no data IO), DROP PARTITION is a minimal-CoW deleteWhere
  // on the partition equality. ADD PARTITION / metadata mutation refuse
  // loudly (there is nothing to create ahead of data, and no per-
  // partition metadata store to mutate).

  override def partitionSchema(): StructType = {
    val parts = VersionedLake.declaredOrPhysicalParts(spark, tableDir, resolvedVersion)
    val sch = schema()
    StructType(parts.flatMap(p => sch.fields.find(_.name.equalsIgnoreCase(p))))
  }

  private def partValue(s: String, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType      => s
      case IntegerType     => s.toInt
      case LongType        => s.toLong
      case ShortType       => s.toShort
      case ByteType        => s.toByte
      case DoubleType      => s.toDouble
      case FloatType       => s.toFloat
      case BooleanType     => s.toBoolean
      case DateType        => java.sql.Date.valueOf(s)
      case TimestampType   => java.sql.Timestamp.valueOf(s)
      // a DATE->TIMESTAMP_NTZ-widened partition column still renders
      // date-only strings in pre-widen directory names
      case TimestampNTZType =>
        if (s.contains(" ") || s.contains("T"))
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        else java.time.LocalDate.parse(s).atStartOfDay()
      case _: DecimalType  => new java.math.BigDecimal(s)
      case other => throw new UnsupportedOperationException(
        s"partition column type $other not supported for partition listing")
    }
  }

  /** Distinct partition tuples of the current version, off the directory
    * structure alone — layout-level, like Hive's SHOW PARTITIONS: a
    * partition whose rows are all pending merge-on-read deletes still
    * lists until the debt materializes. Directories written under an
    * OLDER partition spec (spec evolution) are skipped — their levels
    * name columns the current spec does not, and inventing
    * default-partition tuples for them would list partitions no row has.
    */
  private def partTuples(): Seq[Seq[Any]] = {
    val ps = partitionSchema()
    if (ps.isEmpty) return Nil
    val f = new Path(tableDir).getFileSystem(spark.sessionState.newHadoopConf())
    val v = resolvedVersion
    val psNames = ps.fields.map(_.name.toLowerCase).toSeq
    // pre-rename directories render a partition column under its FORMER
    // name; translate each dir's chain through the aka indirection so
    // renamed layouts keep listing (the walk filters by the RENDERED
    // name, the tuple binds to the LOGICAL one)
    val sch = schema()
    def logicalOf(rendered: String): String =
      sch.fields.find(fl =>
        VersionedLake.akaNames(fl).exists(_.equalsIgnoreCase(rendered)))
        .map(_.name).getOrElse(rendered)
    VersionedLake.manifest(spark, tableDir, v).flatMap { d =>
      val chain = VersionedLake.dirPartitionChain(spark, tableDir, v, d)
      if (chain.map(c => logicalOf(c).toLowerCase) != psNames) Nil
      else {
        // walk one k=v level per chain column; unexpected levels stop
        // the walk (never invent a partition)
        var frontier: Seq[(Path, Map[String, String])] =
          Seq(new Path(s"$tableDir/data/$d") -> Map.empty)
        chain.foreach { c =>
          val logical = logicalOf(c)
          frontier = frontier.flatMap { case (p, m) =>
            f.listStatus(p).filter(_.isDirectory).toSeq
              .map(_.getPath)
              .filter(_.getName.startsWith(s"$c="))
              .map(sub => sub -> (m + (logical ->
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(sub.getName.stripPrefix(s"$c=")))))
          }
        }
        frontier.map { case (_, m) =>
          ps.fields.toSeq.map(fl => m.get(fl.name).map(partValue(_, fl.dataType)).orNull)
        }
      }
    }.distinct
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    val conv = ps.fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val nameIdx = names.toSeq.map(n => ps.fieldIndex(n))
    val wanted = names.indices.map(i =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(
        ident.get(i, ps.fields(nameIdx(i)).dataType), ps.fields(nameIdx(i)).dataType))
    partTuples()
      .filter(t => nameIdx.zip(wanted).forall { case (ix, w) => t(ix) == w })
      .map(t => org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        t.zip(conv).map { case (v, c) => c(v) }))
      .toArray
  }

  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    require(pinnedVersion.isEmpty, s"cannot DROP PARTITION on time-travel snapshot $identName")
    import org.apache.spark.sql.functions.{col, lit}
    val ps = partitionSchema()
    require(ps.nonEmpty, s"$identName is not partitioned")
    val wanted = ps.fields.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(ident.get(i, f.dataType), f.dataType)
    }.toSeq
    // contract: false = no such partition (also avoids publishing a
    // no-op delete_where version for an absent partition)
    if (!partTuples().contains(wanted)) return false
    val pred = ps.fields.zip(wanted).map { case (f, w) =>
      col(f.name) <=> lit(w)
    }.reduce(_ && _)
    VersionedLake.deleteWhere(spark, tableDir, pred): Unit
    true
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partitions are implicit in the hive layout - write data instead of ADD PARTITION")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("no per-partition metadata store")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow): util.Map[String, String] =
    util.Collections.emptyMap()

  /** `TRUNCATE TABLE t` → [[VersionedLake.truncate]]: an empty snapshot
    * commit that preserves the schema, the declared skipping layers, and
    * the hive-layout declaration — history intact (the pre-truncate
    * version time-travels, rollback restores it).
    */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty, s"cannot TRUNCATE time-travel snapshot $identName")
    VersionedLake.truncate(spark, tableDir): Unit
    true
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedVersion.isEmpty && filters.forall(FilterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(pinnedVersion.isEmpty, s"cannot DELETE from time-travel snapshot $identName")
    val cond = filters.flatMap(FilterToColumn(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // delete.mode=merge-on-read: O(matched positions), zero rewrite —
    // reads route through the splice until the debt folds at optimize
    if (LakeProps.deleteModeMor(spark, tableDir))
      VersionedLake.deleteWhereMor(spark, tableDir, cond): Unit
    else
      VersionedLake.deleteWhere(spark, tableDir, cond): Unit
  }

  private def resolvedVersion: Long =
    pinnedVersion.orElse(VersionedLake.currentVersion(spark, tableDir)).getOrElse(
      throw new IllegalStateException(s"no published version in $tableDir"))

  /** When the resolved version needs LIBRARY read-through — pending
    * merge-on-read deletes or rename indirection the stock parquet scan
    * cannot serve — the version to read. [[graft.plans.LakeReadThroughRule]]
    * splices [[VersionedLake.readVersion]]'s own analyzed plan in place
    * of the DSv2 relation for these versions, so join planning sees real
    * file statistics and runtime (dynamic-partition) filters reach the
    * inner scans — neither survives the `V1Scan` bridge, whose
    * `V1ScanWrapper` forwards no statistics interface and never plans as
    * `BatchScanExec`. The ScanBuilder's V1 branch below stays as the
    * fallback for positions the rule leaves alone (DML targets,
    * subqueries).
    */
  private[graft] def readThroughVersion: Option[Long] = {
    val v = resolvedVersion
    val dirs = VersionedLake.manifest(spark, tableDir, v)
    val pending = VersionedLake.dirEqDeletes(spark, tableDir, v)
      .exists(_.dirs.exists(dirs.contains))
    val renamed = VersionedLake.hasRenames(VersionedLake.visibleSchema(
      VersionedLake.versionSchema(spark, tableDir, v).getOrElse(new StructType())))
    // partition-spec evolution AND multi-dir hive layouts read per-spec
    // groups (the library read's per-dir unions); one multi-root parquet
    // scan would refuse both the mixed k=v / flat layout and the uuid
    // level between data root and k=v chains
    val perDir = VersionedLake.needsPerDirRead(spark, tableDir, v)
    // decimal partition renders need the library read's exact
    // string-parse (see VersionedLake.hasDecimalPartition)
    val decPart = VersionedLake.hasDecimalPartition(spark, tableDir, v)
    if (pending || renamed || perDir || decPart) Some(v) else None
  }

  /** The library read of `v`, for [[readThroughVersion]]'s splice. */
  private[graft] def readThrough(v: Long): org.apache.spark.sql.DataFrame =
    VersionedLake.readVersion(spark, tableDir, v)

  /** EXACT logical row count from metadata on a READ-THROUGH version —
    * the versions whose scans bypass the normal builder (and so its
    * metadata-aggregate path): Σ physical `#rows` − Σ recorded
    * per-directory deleted counts. Rename indirection, mixed partition
    * specs and decimal partition renders change nothing about row
    * counts, so their only requirement is complete `#rows` coverage;
    * pending MoR deletes additionally require every delete to carry its
    * exact counts (position deletes record them at commit; keyed
    * deletes never read data, so they stand the shortcut down). Clean
    * versions return None — the scan builder's ordinary
    * metadata-aggregate path owns those.
    */
  private[graft] def metaCountReadThrough: Option[Long] = {
    if (readThroughVersion.isEmpty) return None
    val v = resolvedVersion
    val dirs = VersionedLake.manifest(spark, tableDir, v)
    val pending = VersionedLake.dirEqDeletes(spark, tableDir, v)
      .filter(_.dirs.exists(dirs.contains))
    if (pending.exists(_.counts.isEmpty)) return None
    val rowMeta = VersionedLake.dirRowCounts(spark, tableDir, v)
    if (!dirs.forall(rowMeta.contains)) return None
    val deleted = pending.flatMap(_.counts.toSeq)
      .collect { case (d, n) if dirs.contains(d) => n }.sum
    Some(dirs.map(rowMeta(_)._1).sum - deleted)
  }

  override def name(): String = identName

  override def schema(): StructType = {
    val v = resolvedVersion
    VersionedLake.visibleSchema(
      VersionedLake.versionSchema(spark, tableDir, v)
        .getOrElse(VersionedLake.readVersion(spark, tableDir, v).schema))
  }

  /** The current version's hive layout as identity transforms — what
    * lets the analyzer accept `INSERT OVERWRITE ... PARTITION (p = v)`
    * and SHOW the layout in DESCRIBE.
    */
  override def partitioning(): Array[Transform] =
    VersionedLake.declaredOrPhysicalParts(spark, tableDir, resolvedVersion)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def capabilities(): util.Set[TableCapability] =
    if (pinnedVersion.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      // INSERT OVERWRITE ... PARTITION / predicate overwrites ride the
      // atomic minimal-CoW replaceWhere through the V1 write bridge;
      // DYNAMIC overwrite has no V1 fallback exec in Spark, so it is
      // rewritten at analysis instead (plans.LakeDmlRules) — no
      // OVERWRITE_DYNAMIC capability needed or honest here
      TableCapability.OVERWRITE_BY_FILTER,
      // `MERGE WITH SCHEMA EVOLUTION`: lets the analyzer's
      // ResolveMergeIntoSchemaEvolution widen this table through
      // alterTable (AddColumn / UpdateColumnType — both metadata-only
      // manifest commits here) before LakeDmlRules converts the merge
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Round-trips the DDL-declared services: `SHOW TBLPROPERTIES` shows
    * the same `check.*` / `stats.cols` / `bloom.cols` keys CREATE/ALTER
    * accept, read back from the constraint file and the current
    * manifest's declarations.
    */
  override def properties(): util.Map[String, String] = {
    val v = resolvedVersion
    val checks = LakeConstraints.constraintsOf(spark, tableDir)
      .map { case (n, c) => s"check.$n" -> c }
    val statCols = VersionedLake.dirStats(spark, tableDir, v)
      .values.flatMap(_.keys).toSeq.distinct.sorted
    val bloomCols = VersionedLake.dirBlooms(spark, tableDir, v)
      .values.flatMap(_.keys).toSeq.distinct.sorted
    (Map("provider" -> "graft-lake", "location" -> tableDir, "version" -> v.toString) ++
      checks ++
      LakeProps.get(spark, tableDir) ++
      (if (statCols.nonEmpty) Map("stats.cols" -> statCols.mkString(",")) else Map.empty) ++
      (if (bloomCols.nonEmpty) Map("bloom.cols" -> bloomCols.mkString(",")) else Map.empty)).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // resolve the snapshot ONCE per scan: concurrent commits between
    // planning and execution cannot shift the file set (the manifest is
    // immutable and optimize/vacuum retention keeps its dirs alive)
    val v = resolvedVersion
    val dirs = VersionedLake.manifest(spark, tableDir, v)
    val pending = VersionedLake.dirEqDeletes(spark, tableDir, v)
      .filter(_.dirs.exists(dirs.contains))
    // MERGE-ON-READ READ-THROUGH: a version with pending equality
    // deletes plans the same scoped broadcast anti-join
    // VersionedLake.read uses, through the V1 bridge — a table
    // maintained by the O(delta) upsertMor/deleteKeysMor cadence is
    // SELECTable by name without waiting for materializeDeletes. Pushed
    // filters and required columns bake into the bridged DataFrame, so
    // Catalyst pushes them through the anti-join into the inner parquet
    // scans; every filter stays residual (pruning only narrows). The
    // clean-table fast path below keeps the full manifest-pruning /
    // meta-aggregate / exact-statistics builder (whose metadata answers
    // WOULD overcount under pending deletes — bypassing it here is a
    // correctness requirement, not just a planning shortcut). The same
    // bridge serves a schema with RENAME indirection: the stock parquet
    // scan would null-fill the renamed column (files carry the former
    // name), while the bridged read coalesces the name variants.
    if (pending.nonEmpty ||
      VersionedLake.hasRenames(VersionedLake.visibleSchema(
        VersionedLake.versionSchema(spark, tableDir, v).getOrElse(new StructType()))) ||
      VersionedLake.needsPerDirRead(spark, tableDir, v) ||
      VersionedLake.hasDecimalPartition(spark, tableDir, v))
      return new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
        import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
        private var pushed: Array[Filter] = Array.empty
        private var required: StructType = schema()
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          pushed = filters
          filters
        }
        override def pushedFilters(): Array[Filter] = Array.empty
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema
        // PENDING MoR DELETES no longer stand down unfiltered count(*):
        // position deletes record their EXACT per-directory deleted-row
        // counts at commit time (the matched scan already ran), so
        // logical rows = Σ physical #rows − Σ deleted — still zero file
        // opens. A pending delete WITHOUT counts (keyed deletes never
        // read data at commit) refuses, as does any filter/group/other
        // aggregate: unknown stands down, it is never zero.
        private var counted: Option[Long] = None
        private def countAnswer(
            agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
            : Option[Long] = {
          if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
          val funcs = agg.aggregateExpressions.toSeq
          if (funcs.isEmpty || !funcs.forall(_.isInstanceOf[
            org.apache.spark.sql.connector.expressions.aggregate.CountStar])) return None
          if (pending.exists(_.counts.isEmpty)) return None
          val rowMeta = VersionedLake.dirRowCounts(spark, tableDir, v)
          if (!dirs.forall(rowMeta.contains)) return None
          val deleted = pending.flatMap(_.counts.toSeq)
            .collect { case (d, n) if dirs.contains(d) => n }.sum
          Some(dirs.map(rowMeta(_)._1).sum - deleted)
        }
        override def supportCompletePushDown(
            agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
          countAnswer(agg).isDefined
        override def pushAggregation(
            agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
          countAnswer(agg) match {
            case Some(n) => counted = Some(n); true
            case None    => false
          }
        override def build(): org.apache.spark.sql.connector.read.Scan = counted match {
          case Some(n) =>
            new org.apache.spark.sql.connector.read.LocalScan {
              override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
                Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](java.lang.Long.valueOf(n).longValue())))
              override def readSchema(): StructType = StructType(Seq(
                org.apache.spark.sql.types.StructField("count(*)",
                  org.apache.spark.sql.types.LongType, nullable = false)))
              override def description(): String =
                s"GraftLakeMetaAgg($identName@v$v: count(*) − " +
                  s"${pending.size} pending deletes' exact counts)"
            }
          case None => buildReadThrough()
        }
        private def buildReadThrough(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.V1Scan {
            override def readSchema(): StructType = required
            override def toV1TableScan[T <: BaseRelation with TableScan](
                ctx: org.apache.spark.sql.SQLContext): T =
              (new BaseRelation with TableScan {
                override def sqlContext: org.apache.spark.sql.SQLContext = ctx
                override def schema: StructType = required
                override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                  import org.apache.spark.sql.functions.col
                  val base = VersionedLake.readVersion(ctx.sparkSession, tableDir, v)
                  val filtered = pushed.flatMap(FilterToColumn(_))
                    .foldLeft(base)(_.filter(_))
                  filtered.select(required.fieldNames.map(col).toIndexedSeq: _*).rdd
                }
              }).asInstanceOf[T]
            override def description(): String =
              s"GraftLakeMorReadThrough($identName@v$v, ${pending.size} pending deletes)"
          }
      }
    // computed ONCE per scan: dirBlooms base64-decodes every directory's
    // bloom bitset — don't pay that twice for hasLayers + filter cols
    val scanStats = VersionedLake.dirStats(spark, tableDir, v)
    val scanBlooms = VersionedLake.dirBlooms(spark, tableDir, v)
    val hasLayers = scanStats.nonEmpty || scanBlooms.nonEmpty
    // every catalog read goes through the one builder: stats/bloom
    // directory pruning when the table declares layers (a no-op pruner
    // otherwise), metadata-only count/min/max, and manifest-exact scan
    // statistics for join planning
    // zero-row directories (TRUNCATE's empty snapshot, a no-match
    // replaceWhere batch) are dropped from the scan: they contribute no
    // rows, and a flat empty dir among hive-partitioned dirs would fail
    // multi-root partition discovery ("conflicting partition columns").
    // When EVERY dir is empty, keep the newest one so the delegated
    // builder still has a concrete (single-spec) root to plan over.
    val rowMeta = VersionedLake.dirRowCounts(spark, tableDir, v)
    def dropEmpty(ds: Seq[String]): Seq[String] = {
      val live = ds.filter(d => rowMeta.get(d).forall(_._1 > 0))
      if (live.nonEmpty) live else ds.takeRight(1)
    }
    new org.apache.spark.sql.graft.LakePruningScanBuilder(
      spark, identName, s"$tableDir/data", schema(), options,
      pruner =
        if (hasLayers)
          filters => dropEmpty(
            VersionedLake.pruneDirsForFilters(spark, tableDir, v, filters))
        else _ => dropEmpty(dirs),
      rowMeta = rowMeta,
      aggAnswer = (agg, dirsScope) =>
        LakeMetaAgg.answer(spark, tableDir, v, schema(), agg, dirsScope),
      // hybrid: proven dirs answer from the manifest, residual dirs run
      // as a real filtered job at scan materialization — the compacted
      // multi-day directory no longer kills the filtered fast path
      hybridAggAnswer = (agg, proven, residual, filters) =>
        LakeMetaAgg.answerHybrid(spark, tableDir, v, schema(), agg,
          proven, residual, filters),
      // exact read-through for hybrid claims without an aggregate: the
      // claimed conjuncts are gone from Spark's post-scan Filter, so the
      // bridged DataFrame applies them per row (and Catalyst pushes them
      // into the inner parquet scans for row-group skipping)
      hybridReadThrough = Some { (keptDirs, filters, required) =>
        val fallbackSchema = schema()
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = required
          override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan](
              ctx: org.apache.spark.sql.SQLContext): T =
            (new org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = ctx
              override def schema: StructType = required
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                import org.apache.spark.sql.functions.col
                val visible = VersionedLake.visibleSchema(
                  VersionedLake.versionSchema(ctx.sparkSession, tableDir, v)
                    .getOrElse(fallbackSchema))
                val base = VersionedLake.readDirsWithDeletes(
                  ctx.sparkSession, tableDir, v, keptDirs, Some(visible))
                val filtered = filters.flatMap(FilterToColumn(_))
                  .foldLeft(base)(_.filter(_))
                filtered.select(required.fieldNames.map(col).toIndexedSeq: _*).rdd
              }
            }).asInstanceOf[T]
          override def description(): String =
            s"GraftLakeHybridReadThrough($identName@v$v, ${keptDirs.size} dirs)"
        }
      },
      // storage-partitioned joins are a declared layout contract, like
      // bucket count: `spj.enabled` trades scan granularity (one task per
      // live partition value) for shuffle-free partition-keyed joins
      spjCols =
        if (LakeProps.get(spark, tableDir).get("spj.enabled").contains("true"))
          VersionedLake.declaredOrPhysicalParts(spark, tableDir, v)
        else Nil,
      // every STATS-layered column is runtime-filterable: a broadcast
      // join's key set re-prunes the manifest at execution via min/max
      // ranges. Bloom-ONLY columns are excluded deliberately: the pruner
      // caps bloom probes at 16 IN values and a runtime key set is
      // almost always larger, so declaring them would buy pure overhead
      runtimeFilterCols =
        scanStats.values.flatMap(_.keys).toSeq.distinct,
      // column-level CBO statistics: the manifest's #ndv layer (HLL
      // sketch + null count per directory) merges over the KEPT dirs at
      // build time and reports through DSv2 columnStats, so Catalyst's
      // join estimation sees per-column cardinalities, not just row
      // counts
      ndvMeta = VersionedLake.dirNdv(spark, tableDir, v),
      statsMeta = scanStats,
      // equi-height histogram edges (riding the #ndv layer) merge into
      // ONE mixture histogram per column at build time — skew-correct
      // range selectivity for CBO, still zero file opens
      histMeta = VersionedLake.dirHist(spark, tableDir, v),
      // frequent-values sketches (also riding #ndv): pushed string
      // equalities refine the scan's reported rows/bytes, the
      // categorical counterpart of the histogram layer
      freqMeta = VersionedLake.dirFreq(spark, tableDir, v))
  }

  /** Spark source filters → a lake predicate Column — the vocabulary
    * `INSERT OVERWRITE ... PARTITION (p = v)` and predicate overwrites
    * arrive in (partition equalities, plus whatever the analyzer folds).
    * Unsupported shapes refuse loudly rather than over-delete.
    */
  private def filterCol(f: org.apache.spark.sql.sources.Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => col(a) === lit(v)
      case EqualNullSafe(a, v)      => col(a) <=> lit(v)
      case In(a, vs)                => col(a).isin(vs.toIndexedSeq: _*)
      case GreaterThan(a, v)        => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v)           => col(a) < lit(v)
      case LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case IsNull(a)                => col(a).isNull
      case IsNotNull(a)             => col(a).isNotNull
      case And(l, r)                => filterCol(l) && filterCol(r)
      case Or(l, r)                 => filterCol(l) || filterCol(r)
      case Not(c)                   => !filterCol(c)
      case _: AlwaysTrue            => lit(true)
      case _: AlwaysFalse           => lit(false)
      case other => throw new UnsupportedOperationException(
        s"INSERT OVERWRITE predicate not supported by the graft catalog: $other")
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to time-travel snapshot $identName")
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      private var replaceFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (filters.isEmpty ||
          filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          overwrite = true // plain INSERT OVERWRITE: full snapshot
        else replaceFilters = Some(filters)
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame, ovr: Boolean): Unit = {
              val s = data.sparkSession
              val cur = VersionedLake.currentVersion(s, tableDir)
              val parts = cur
                .map(v => VersionedLake.declaredOrPhysicalParts(s, tableDir, v))
                .getOrElse(Nil)
              // a table with declared skipping layers must keep them
              // through catalog INSERTs — the shared continuation rule
              val (statsCols, bloom) = cur
                .map(v => VersionedLake.continuedLayers(s, tableDir, v,
                  data.columns.toSeq))
                .getOrElse((Nil, None))
              if (replaceFilters.isDefined)
                // predicate overwrite (static PARTITION clause / Delta
                // replaceWhere): one atomic minimal-CoW commit
                VersionedLake.replaceWhere(s, tableDir,
                  replaceFilters.get.map(filterCol).reduce(_ && _), data)
              else if (overwrite || ovr)
                VersionedLake.commit(data, tableDir, parts = parts,
                  statsCols = statsCols, bloom = bloom)
              else
                VersionedLake.appendCommit(data, tableDir, parts = parts,
                  statsCols = statsCols, bloom = bloom)
              ()
            }
          }
      }
    }
  }

  override def toString: String = s"LakeTable($identName)"
}
