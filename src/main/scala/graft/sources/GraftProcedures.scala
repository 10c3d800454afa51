package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** SQL-callable lake maintenance — the DSv2 procedure surface
  * (`CALL graft.system.<proc>(...)`) over the library's table-lifecycle
  * operations, so a SQL-only client can run the jobs a 100 TB table
  * needs on a schedule: compaction, retention, rollback, branching, and
  * mirror replication. Each procedure resolves its table arguments
  * through the OWNING catalog's directory scheme (dotted names =
  * namespace segments), executes the library call — every one an
  * ordinary optimistic commit, safe against concurrent writers — and
  * returns a one-row result set (the affected version) as a
  * [[LocalScan]].
  *
  * Reference behavior: the pipeline has no maintenance surface at all —
  * its whole lifecycle is the `main` loop that moves processed files
  * aside (`/root/reference/xml_to_rdb.py:39-56`); here the same
  * operations are engine-native SQL with the commit log as the audit
  * trail (`$history`).
  */
object GraftProcedures {

  /** Procedure names under the `system` namespace. */
  val Names: Seq[String] = Seq(
    "vacuum", "optimize", "rollback", "clone_table", "replicate",
    "tag", "drop_ref", "create_mv", "refresh_mv", "drop_mv", "alter_mv",
    "create_text_index", "refresh_text_index", "drop_text_index", "text_search",
    "text_search_phrase", "text_search_near", "column_stats", "replicate_verify",
    "set_partition_spec", "explain_scan", "verify_constraints", "atomic",
    "set_text_index_buckets", "migrate_text_index", "estimate_rows", "analyze",
    "materialize_deletes")

  /** The text-index registration rides the corpus props like `mv.def`:
    * one CAS-guarded value, fields URL-encoded so paths/columns with
    * commas survive the trip.
    */
  private val TextIdxKey = TextIndexes.PropKey

  private def renderTextIdx(indexDir: String, idCol: String, textCol: String): String =
    TextIndexes.render(indexDir, idCol, textCol)

  private def parseTextIdx(v: String): (String, String, String) =
    TextIndexes.parse(v)

  private def textIdxOf(spark: SparkSession, corpus: String): (String, String, String) =
    LakeProps.get(spark, corpus).get(TextIdxKey).map(parseTextIdx).getOrElse(
      throw new IllegalArgumentException(s"no text index registered on $corpus"))

  /** `cnt=count(*), total=sum(value), lo=min(value)` — the create_mv
    * aggregate spec: each state column is one mergeable aggregate over a
    * corpus column (exactly [[LakeMv.MvDef.aggs]]'s vocabulary).
    */
  private val MvAggPat = """^\s*(\w+)\s*=\s*(sum|count|min|max|hll|distinct)\(\s*([^\s()]+)\s*\)\s*$""".r

  private def parseMvAggs(spec: String): Map[String, (String, String)] =
    spec.split(',').map {
      case MvAggPat(stateCol, op, src) => stateCol -> (op, src)
      case bad =>
        throw new IllegalArgumentException(
          s"bad aggregate spec '$bad' - want state_col=op(column) with " +
            "op in sum/count/min/max/hll/distinct (count takes * or a column)")
    }.toMap

  /** Bind a predicate string against a table's own committed schema
    * (names, types, coercions land exactly as a real scan would see
    * them), fold the coercion casts the analyzer leaves around literals,
    * and translate the conjuncts through the same pushdown channel the
    * scan rides. Returns (translated filters, untranslatable conjuncts).
    */
  private def bindPredicate(
      spark: SparkSession,
      dir: String,
      v: Long,
      predSql: String): (Seq[org.apache.spark.sql.sources.Filter],
        Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    val schema0 = VersionedLake.visibleSchema(
      VersionedLake.versionSchema(spark, dir, v).getOrElse(
        throw new IllegalStateException(s"$dir@v$v carries no schema header")))
    val attrs = schema0.fields.toSeq.map(f =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, f.nullable)())
    val parsed = spark.sessionState.sqlParser.parseExpression(predSql)
    val analyzed = spark.sessionState.analyzer.execute(
      org.apache.spark.sql.catalyst.plans.logical.Filter(parsed,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs)))
    val bound = analyzed.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
    }.getOrElse(throw new IllegalStateException(s"unanalyzable predicate: $predSql"))
    val folded = bound.transformUp {
      case e if e.foldable &&
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow), e.dataType)
    }
    org.apache.spark.sql.graft.Bridge.translateConjuncts(folded)
  }

  /** Split on ';' outside quoted strings. SQL's doubled-quote escape
    * ('it''s') splits correctly by construction: each quote toggles the
    * in-string state, and a doubled pair re-balances. Backslash escapes
    * ('it\'s') are honored too: inside a string, the character after a
    * backslash never toggles the state, so a ';' later in the same
    * literal cannot split. This is deliberately UNCONDITIONAL —
    * `spark.sql.parser.escapedStringLiterals` does NOT change the
    * lexer's TOKEN boundaries, only how the token's value unescapes
    * (verified against Spark 4.1.2: in escaped mode `'it\'s; x'` still
    * lexes as ONE literal whose value keeps the backslash, and a
    * trailing-backslash literal `'a\'` is unterminated in BOTH modes),
    * so a conf-gated splitter would mis-split escaped-mode batches at a
    * ';' the lexer keeps inside the string. Pinned by
    * GraftProceduresSpec's escapedStringLiterals case.
    */
  private def splitSql(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var q: Char = 0
    var esc = false
    s.foreach { c =>
      if (q != 0) {
        cur += c
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == q) q = 0
      }
      else if (c == '\'' || c == '"') { q = c; cur += c }
      else if (c == ';') { out += cur.toString; cur.clear(): Unit }
      else cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Refuse non-statement SQL inside `system.atomic`: the batch exists
    * to stage WRITES behind one decision file, and a smuggled SELECT
    * would materialize unbounded rows on the driver for an answer the
    * caller can't see anyway. Commands (DML, DDL) parse to
    * [[org.apache.spark.sql.catalyst.plans.logical.Command]] or a
    * [[org.apache.spark.sql.catalyst.plans.logical.ParsedStatement]]
    * (INSERT before resolution); CALL parses to its own
    * [[org.apache.spark.sql.catalyst.plans.logical.Call]] node — a
    * UnaryNode that is ExecutableDuringAnalysis, NOT a Command — so the
    * analysis-executable marker is part of the allow set (batching
    * `refresh_mv` with the DML that feeds it is a legitimate atomic
    * unit). Anything else is a bare query.
    */
  private def requireDml(spark: SparkSession, stmt: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parsePlan(stmt)
    val ok = parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] ||
      parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ParsedStatement] ||
      parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ExecutableDuringAnalysis]
    if (!ok) throw new IllegalArgumentException(
      s"system.atomic runs DML/DDL statements only; got a bare query: " +
        s"${stmt.take(120)} - run queries outside the atomic batch")
  }

  /** `resolve` maps a (possibly dotted) table name to its directory
    * under the calling catalog's root — creation targets (clone/replicate
    * destinations) resolve the same way without existing yet.
    */
  def load(spark: SparkSession, name: String, resolve: String => String): UnboundProcedure =
    name match {
      case "atomic" =>
        proc(name, "run several ;-separated SQL statements as ONE atomic " +
          "multi-table commit (LakeAtomicTxn 2PC): every lake write inside " +
          "stages instead of publishing, all staged versions become visible " +
          "at one decision-file create, and any failure publishes NOTHING - " +
          "the SQL face of the FK-consistent star load. One commit per table " +
          "per call; txn_table hosts the decision file (any table on the " +
          "same store)",
          Seq(
            ProcedureParameter.in("statements", StringType)
              .comment("SQL statements separated by ';' (quotes respected)").build(),
            ProcedureParameter.in("txn_table", StringType).build())) { in =>
          val stmts = splitSql(str(in, 0))
          require(stmts.nonEmpty, "atomic needs at least one statement")
          stmts.foreach(requireDml(spark, _)) // refuse BEFORE any side effect
          val txnDir = resolve(str(in, 1))
          val versions = LakeAtomicTxn.commitAll(spark, txnDir) {
            // commands execute eagerly at sql(); no driver-side collect of
            // result rows — the guard above already barred bare queries
            stmts.foreach(stmt => spark.sql(stmt): Unit)
          }
          versions.size.toLong
        }
      case "analyze" =>
        proc(name, "add or refresh the column-statistics layers (min/max, " +
          "NDV + null counts, histogram edges, frequent-values sketches, " +
          "exact sums) on an existing table WITHOUT rewriting data: one scan " +
          "per directory + one metadata-only commit - the stats backfill for " +
          "a column that became filter-hot after ingest; also upgrades legacy " +
          "directories to the full current layer set",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("cols", StringType)
              .comment("comma-separated columns to analyze, or '*' for every " +
                "atomic-typed column").build(),
            ProcedureParameter.in("only_missing", BooleanType).defaultValue("false")
              .comment("scan ONLY directories lacking a requested layer - the " +
                "incremental cadence call; a no-op returning the current version " +
                "when nothing is missing").build(),
            ProcedureParameter.in("bloom_cols", StringType).defaultValue("''")
              .comment("comma-separated columns to (re)build per-directory Bloom " +
                "filters for - the point-lookup skipping layer the stats pass " +
                "can't ride; reuses the table's existing (bits, k) so new " +
                "filters stay probe-compatible").build())) { in =>
          val dir = resolve(str(in, 0))
          val cols = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val bloomCols = str(in, 3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          VersionedLake.analyzeStats(spark, dir, cols,
            onlyMissing = in.getBoolean(2), bloomCols = bloomCols)
        }
      case "materialize_deletes" =>
        proc(name, "fold every pending merge-on-read delete into the data on the " +
          "MINIMAL directory set (only dirs actually holding matching keys " +
          "rewrite; the rest carry verbatim) and drop the eqdelete lines - the " +
          "compaction half of the MoR bargain, the action t$deletes points at; " +
          "a no-op returning the current version when no debt is pending",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          VersionedLake.materializeDeletes(spark, resolve(str(in, 0)))
        }
      case "vacuum" =>
        proc(name, "retention: keep the newest versions, reclaim the rest",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("keep_versions", IntegerType).defaultValue("1").build(),
            ProcedureParameter.in("min_age_ms", LongType)
              .defaultValue(VersionedLake.DefaultVacuumMinAgeMs.toString)
              .comment("unreferenced dirs younger than this survive (in-flight commits)")
              .build())) { in =>
          val dir = resolve(str(in, 0))
          VersionedLake.vacuum(spark, dir, keepVersions = in.getInt(1),
            minAgeMs = in.getLong(2))
          VersionedLake.currentVersion(spark, dir).get
        }
      case "optimize" =>
        proc(name, "compaction: rewrite the layout (optionally Z-clustered) as one commit; " +
          "small_rows > 0 = INCREMENTAL (consolidate only sub-threshold directories, " +
          "O(small dirs) not O(table))",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("zorder_by", StringType).defaultValue("''")
              .comment("comma-separated cluster columns; empty = plain compaction").build(),
            ProcedureParameter.in("num_dirs", IntegerType).defaultValue("1")
              .comment(">= 2 splits into Z-range-disjoint directories").build(),
            ProcedureParameter.in("small_rows", LongType).defaultValue("-1")
              .comment("> 0 compacts only directories under this row count").build())) { in =>
          val dir = resolve(str(in, 0))
          val z = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val n = in.getInt(2)
          val smallRows = in.getLong(3)
          if (smallRows > 0) {
            require(z.isEmpty && n < 2,
              "small_rows is incremental consolidation - it composes with " +
                "neither zorder_by nor num_dirs (run a full optimize for those)")
            VersionedLake.compactSmall(spark, dir, smallRows)
              .getOrElse(VersionedLake.currentVersion(spark, dir).get)
          } else if (n >= 2) VersionedLake.optimizeClustered(spark, dir, z, n)
          else VersionedLake.optimize(spark, dir, zorderBy = z)
        }
      case "set_partition_spec" =>
        proc(name, "partition spec evolution: one metadata-only commit declares the " +
          "hive layout NEW batches follow; existing directories keep reading " +
          "(and pruning) under the spec they were written with; a later full " +
          "optimize migrates the layout if/when wanted",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("parts", StringType)
              .comment("comma-separated partition columns; empty = unpartitioned " +
                "going forward").build())) { in =>
          val cols = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          VersionedLake.setPartitionSpec(spark, resolve(str(in, 0)), cols)
        }
      case "rollback" =>
        proc(name, "republish a retained version's exact content as the new current",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("version", LongType).build())) { in =>
          VersionedLake.rollback(spark, resolve(str(in, 0)), in.getLong(1))
        }
      case "clone_table" =>
        proc(name, "deep-clone one retained version as a new independent table",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("dst", StringType).build(),
            ProcedureParameter.in("version", LongType).defaultValue("-1")
              .comment("-1 = current").build(),
            ProcedureParameter.in("parent_map", StringType).defaultValue("''")
              .comment("comma-separated src=dst table-name pairs remapping " +
                "cross-table FK pointers into the clone set (pass the same " +
                "map to every clone of the namespace)").build())) { in =>
          val v = in.getLong(2)
          val pm = str(in, 3).split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
            kv.split("=", 2) match {
              case Array(s, d) => resolve(s.trim) -> resolve(d.trim)
              case _ => throw new IllegalArgumentException(
                s"parent_map entry '$kv' is not src=dst")
            }
          }.toMap
          VersionedLake.cloneTable(spark, resolve(str(in, 0)), resolve(str(in, 1)),
            version = if (v < 0) None else Some(v), parentMap = pm)
        }
      case "replicate" =>
        proc(name, "CDC-fed mirror sync: bootstrap or apply the row delta, exactly-once",
          Seq(
            ProcedureParameter.in("src", StringType).build(),
            ProcedureParameter.in("dst", StringType).build(),
            ProcedureParameter.in("keys", StringType)
              .comment("comma-separated key columns").build())) { in =>
          LakeReplicate.sync(spark, resolve(str(in, 0)), resolve(str(in, 1)),
            str(in, 2).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        }
      case "tag" =>
        proc(name, "name a retained version (vacuum keeps it alive; " +
          "read it via VERSION AS OF '<name>')",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build(),
            ProcedureParameter.in("version", LongType).defaultValue("-1")
              .comment("-1 = current").build())) { in =>
          val dir = resolve(str(in, 0))
          val v = in.getLong(2)
          val at =
            if (v >= 0) v
            else VersionedLake.currentVersion(spark, dir).getOrElse(
              throw new IllegalStateException(s"no published version in $dir"))
          LakeRefs.tag(spark, dir, str(in, 1), at)
          at
        }
      case "drop_ref" =>
        proc(name, "drop a named ref (its version re-enters normal retention)",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build())) { in =>
          val dir = resolve(str(in, 0))
          LakeRefs.drop(spark, dir, str(in, 1))
          VersionedLake.currentVersion(spark, dir).getOrElse(-1L)
        }
      case "create_mv" =>
        proc(name, "materialized view over a lake table: the state lives as a " +
          "catalog-visible lake table of mergeable partials, maintained O(delta) " +
          "by refresh_mv, auto-routed into matching aggregate queries " +
          "(plans.MvRewriteRule); the registration rides the corpus props, so " +
          "every session that resolves the table rediscovers it",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType)
              .comment("the view's own table name (resolved in this catalog)").build(),
            ProcedureParameter.in("keys", StringType)
              .comment("comma-separated grouping columns").build(),
            ProcedureParameter.in("aggs", StringType)
              .comment("state_col=op(column) list, op in " +
                "sum/count/min/max/hll/distinct").build(),
            ProcedureParameter.in("distinct_cap", IntegerType)
              .defaultValue(LakeMv.DefaultDistinctCap.toString)
              .comment("per-group cardinality cap for distinct state " +
                "columns; the DDL refuses a column already above it").build())) { in =>
          val corpus = resolve(str(in, 0))
          val viewDir = resolve(str(in, 1))
          val keys = str(in, 2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          require(keys.nonEmpty, "create_mv needs at least one grouping key")
          val mv = LakeMv.MvDef(corpus, viewDir, keys, parseMvAggs(str(in, 3)),
            distinctCap = in.getInt(4))
          require(VersionedLake.currentVersion(spark, viewDir).isEmpty,
            s"${str(in, 1)} already exists - drop_mv (or pick a fresh name) first")
          // cap validation (inside persist) BEFORE the first sync
          // materializes any state; a failed first sync revokes the
          // registration so nothing dangles
          LakeMv.persist(spark, mv)
          try LakeView.syncWith(spark, corpus, viewDir, mv.stateOverGuarded(spark))
            .getOrElse(throw new IllegalStateException(s"$corpus has no published version"))
          catch {
            case e: Throwable =>
              scala.util.Try(LakeMv.dropPersisted(spark, corpus)): Unit
              throw e
          }
        }
      case "refresh_mv" =>
        proc(name, "bring the table's materialized view up to the current version " +
          "(O(delta) for appends, feed/rebuild across rewrites); until refreshed, " +
          "append-only lag is served exactly by the stale-combine rewrite",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          val corpus = resolve(str(in, 0))
          LakeMv.registerFromProps(spark, corpus)
          val mv = LakeMv.forCorpus(corpus).getOrElse(
            throw new IllegalArgumentException(s"no materialized view on ${str(in, 0)}"))
          LakeView.syncWith(spark, corpus, mv.viewDir, mv.stateOverGuarded(spark))
            .getOrElse(throw new IllegalStateException(s"$corpus has no published version"))
        }
      case "alter_mv" =>
        proc(name, "alter the table's materialized view WITHOUT losing its " +
          "sync watermark: raise (or lower) the distinct-state cap - validated " +
          "against the view's current merged per-group sets, O(groups), never a " +
          "corpus scan - and/or evict one state column (the state table compacts " +
          "to a merged frame without it; the other columns' state carries and " +
          "the rewrite keeps routing). The recovery path when a group outgrows " +
          "the declared cap, replacing drop_mv + recreate + full re-sync",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("distinct_cap", IntegerType).defaultValue("0")
              .comment("new per-group cap for distinct state columns; 0 keeps " +
                "the current cap").build(),
            ProcedureParameter.in("drop_state_col", StringType).defaultValue("''")
              .comment("state column to evict; '' keeps all").build())) { in =>
          val corpus = resolve(str(in, 0))
          val cap = in.getInt(1)
          val dropCol = str(in, 2).trim
          LakeMv.alter(spark, corpus,
            if (cap > 0) Some(cap) else None,
            if (dropCol.isEmpty) None else Some(dropCol))
          VersionedLake.currentVersion(spark, corpus).getOrElse(-1L)
        }
      case "drop_mv" =>
        proc(name, "unregister the table's materialized view (the state table " +
          "remains a plain lake table; DROP TABLE it separately)",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          val corpus = resolve(str(in, 0))
          LakeMv.dropPersisted(spark, corpus)
          VersionedLake.currentVersion(spark, corpus).getOrElse(-1L)
        }
      case "create_text_index" =>
        proc(name, "inverted text index over a lake table: postings live as " +
          "term-hash-bucketed lake tables under the index name, maintained " +
          "O(changed docs) by refresh_text_index off the corpus CDC feed; " +
          "query with text_search (BM25, probe = the query terms' buckets)",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType)
              .comment("the index's own directory name (resolved in this catalog)").build(),
            ProcedureParameter.in("id_col", StringType).build(),
            ProcedureParameter.in("text_col", StringType).build())) { in =>
          val corpus = resolve(str(in, 0))
          val idxDir = resolve(str(in, 1))
          require(VersionedLake.currentVersion(spark,
            graft.operators.InvertedIndex.postingsDir(idxDir)).isEmpty,
            s"${str(in, 1)} already exists - drop_text_index (or pick a fresh name) first")
          val v = graft.operators.InvertedIndex
            .sync(spark, corpus, str(in, 2), str(in, 3), idxDir)
            .getOrElse(throw new IllegalStateException(s"$corpus has no published version"))
          LakeProps.set(spark, corpus, TextIdxKey,
            renderTextIdx(idxDir, str(in, 2), str(in, 3)))
          // eligible for automatic BM25 routing from this session on
          TextIndexes.register(corpus,
            TextIndexes.Entry(idxDir, str(in, 2), str(in, 3), lakeCorpus = true))
          v
        }
      case "refresh_text_index" =>
        proc(name, "bring the table's text index up to the current version " +
          "(O(changed documents) off the CDC feed, manifest diff as fallback)",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          val corpus = resolve(str(in, 0))
          val (idxDir, idCol, textCol) = textIdxOf(spark, corpus)
          graft.operators.InvertedIndex.sync(spark, corpus, idCol, textCol, idxDir)
            .getOrElse(throw new IllegalStateException(s"$corpus has no published version"))
        }
      case "set_text_index_buckets" =>
        proc(name, "declare a new term-hash bucket count for the table's text " +
          "index - one metadata write, zero data moved: new postings commits " +
          "bucket under it, probes read every generation still present " +
          "(<= one bucket per generation per term); run migrate_text_index " +
          "to drain the old generation",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("n", IntegerType).build())) { in =>
          val corpus = resolve(str(in, 0))
          val (idxDir, _, _) = textIdxOf(spark, corpus)
          graft.operators.InvertedIndex.setNumBuckets(spark, idxDir, in.getInt(1))
          in.getInt(1).toLong
        }
      case "migrate_text_index" =>
        proc(name, "drain old-generation postings onto the declared bucket " +
          "count, up to max_buckets stale bucket values per call (one atomic " +
          "replaceWhere - bounded work, probes stay exact throughout); " +
          "returns the stale values still remaining (0 = fully migrated). " +
          "NOTE: pre-migration versions keep the stale postings on disk " +
          "until a vacuum ends their time-travel window - pass " +
          "vacuum => true to reclaim them the moment the drain completes " +
          "(vacuum_min_age_ms guards in-flight commits, as system.vacuum)",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("max_buckets", IntegerType)
              .defaultValue(Int.MaxValue.toString).build(),
            ProcedureParameter.in("vacuum", BooleanType)
              .defaultValue("false")
              .comment("reclaim pre-migration postings versions once " +
                "remaining = 0 (ends their time-travel window)").build(),
            ProcedureParameter.in("vacuum_min_age_ms", LongType)
              .defaultValue(VersionedLake.DefaultVacuumMinAgeMs.toString).build())) { in =>
          val corpus = resolve(str(in, 0))
          val (idxDir, _, _) = textIdxOf(spark, corpus)
          val remaining =
            graft.operators.InvertedIndex.migrateBuckets(spark, idxDir, in.getInt(1))
          if (remaining == 0 && in.getBoolean(2))
            VersionedLake.vacuum(spark,
              graft.operators.InvertedIndex.postingsDir(idxDir),
              keepVersions = 1, minAgeMs = in.getLong(3))
          remaining.toLong
        }
      case "drop_text_index" =>
        proc(name, "unregister the table's text index (the postings/stats tables " +
          "remain plain lake tables; DROP TABLE them separately)",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          val corpus = resolve(str(in, 0))
          LakeProps.unset(spark, corpus, TextIdxKey)
          TextIndexes.drop(corpus)
          VersionedLake.currentVersion(spark, corpus).getOrElse(-1L)
        }
      case "text_search" =>
        procRows(name, "BM25 top-k over the table's text index: reads the query " +
          "terms' postings buckets + the O(commits) stats table, never the corpus",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("terms", StringType)
              .comment("comma-separated query terms").build(),
            ProcedureParameter.in("k", IntegerType).defaultValue("10").build())) { in =>
          val corpus = resolve(str(in, 0))
          val (idxDir, _, _) = textIdxOf(spark, corpus)
          val terms = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val k = in.getInt(2)
          require(k > 0 && k <= 100000, s"k out of range: $k")
          val df = graft.operators.InvertedIndex
            .searchBm25(spark, idxDir, terms, k = Some(k))
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(df.schema)
          (df.schema, df.collect().map(r => conv(r).asInstanceOf[InternalRow]))
        }
      case "text_search_phrase" =>
        procRows(name, "EXACT PHRASE top-k over the table's positional text " +
          "index: documents where the phrase's terms occur consecutively, " +
          "with occurrence counts - reads only the phrase terms' postings " +
          "buckets, never the corpus",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("phrase", StringType)
              .comment("space-separated phrase, two or more terms").build(),
            ProcedureParameter.in("k", IntegerType).defaultValue("10").build())) { in =>
          val corpus = resolve(str(in, 0))
          val (idxDir, _, _) = textIdxOf(spark, corpus)
          val terms = str(in, 1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          val k = in.getInt(2)
          require(k > 0 && k <= 100000, s"k out of range: $k")
          val df = graft.operators.InvertedIndex
            .searchPhrase(spark, idxDir, terms, k = Some(k))
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(df.schema)
          (df.schema, df.collect().map(r => conv(r).asInstanceOf[InternalRow]))
        }
      case "text_search_near" =>
        procRows(name, "PROXIMITY top-k over the table's positional text " +
          "index: documents where the terms occur in order with at most " +
          "`window` tokens between consecutive terms (window=1 is the exact " +
          "phrase), with chain counts - reads only the terms' postings buckets",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("terms", StringType)
              .comment("space-separated terms, two or more").build(),
            ProcedureParameter.in("window", IntegerType).defaultValue("3").build(),
            ProcedureParameter.in("k", IntegerType).defaultValue("10").build())) { in =>
          val corpus = resolve(str(in, 0))
          val (idxDir, _, _) = textIdxOf(spark, corpus)
          val terms = str(in, 1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          val w = in.getInt(2)
          val k = in.getInt(3)
          require(k > 0 && k <= 100000, s"k out of range: $k")
          val df = graft.operators.InvertedIndex
            .searchNear(spark, idxDir, terms, window = w, k = Some(k))
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(df.schema)
          (df.schema, df.collect().map(r => conv(r).asInstanceOf[InternalRow]))
        }
      case "column_stats" =>
        procRows(name, "column-level statistics off the manifest's NDV layer: " +
          "per stats column, the merged HLL distinct-count estimate and exact " +
          "null count over the current version - O(directories) metadata, " +
          "zero file opens (the ANALYZE TABLE answer a 100 TB table can " +
          "afford on every call)",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          val dir = resolve(str(in, 0))
          val v = VersionedLake.currentVersion(spark, dir).getOrElse(
            throw new IllegalStateException(s"no published version in $dir"))
          val rowMeta = VersionedLake.dirRowCounts(spark, dir, v)
          val ndv = VersionedLake.dirNdv(spark, dir, v)
          val live = VersionedLake.manifest(spark, dir, v)
            .filter(d => rowMeta.get(d).forall(_._1 > 0))
          val perDir = live.map(ndv.getOrElse(_, Map.empty))
          // report only columns every row-bearing directory covers — the
          // scan-side conservatism rule (a partial union understates NDV)
          val covered =
            if (perDir.isEmpty) Set.empty[String]
            else perDir.map(_.keySet).reduce(_ intersect _)
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column", StringType),
            org.apache.spark.sql.types.StructField("ndv",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("nulls",
              org.apache.spark.sql.types.LongType)))
          val rows = covered.toSeq.sorted.map { c =>
            val entries = perDir.map(_(c))
            InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(c),
              VersionedLake.ndvEstimate(entries.map(_._1)),
              entries.map(_._2).sum)
          }.toArray
          (schema, rows)
        }
      case "estimate_rows" =>
        proc(name, "the row count the PLANNER will see for this predicate: " +
          "manifest pruning + the selectivity layers (frequent-values " +
          "equality, histogram ranges, exact null counts) applied to the kept directories - " +
          "what drives broadcast decisions, O(directories) metadata, zero " +
          "file opens. Conservative by construction: missing coverage " +
          "returns the raw kept-row sum, never a guess",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("predicate", StringType).build())) { in =>
          val dir = resolve(str(in, 0))
          val v = VersionedLake.currentVersion(spark, dir).getOrElse(
            throw new IllegalStateException(s"no published version in $dir"))
          val (filters, _) = bindPredicate(spark, dir, v, str(in, 1))
          val kept = VersionedLake.pruneDirsForFilters(spark, dir, v, filters)
          val rowMeta = VersionedLake.dirRowCounts(spark, dir, v)
          if (!kept.forall(rowMeta.contains))
            throw new IllegalStateException(
              s"$dir@v$v has directories without exact row counts - no estimate")
          val visible = VersionedLake.visibleSchema(VersionedLake.versionSchema(spark, dir, v)
            .getOrElse(new org.apache.spark.sql.types.StructType()))
          val ndv = VersionedLake.dirNdv(spark, dir, v)
          val hists = VersionedLake.dirHist(spark, dir, v)
          val B = org.apache.spark.sql.graft.LakePruningScanBuilder
          // the scan's own claim gate: the plan reads the pruned dirs that
          // the claims keep; when it claims EVERY conjunct, the satisfying
          // directories count exactly (checked first, like the plan: a
          // claimable filter answers exactly even when the histogram CDF
          // could also price it) and only the residual prices off the
          // selectivity layers
          val gate = B.claim(filters, VersionedLake.manifest(spark, dir, v), rowMeta, ndv,
            VersionedLake.dirStats(spark, dir, v), visible, hists, hybridCapable = true)
          val planKept =
            if (gate.claimed.isEmpty) kept
            else kept.filter((gate.satisfying ++ gate.residual).toSet)
          def refine(ds: Seq[String]): Long =
            if (ds.isEmpty) 0L
            else B.refineForFilters(filters, ds, rowMeta, ndv,
              VersionedLake.dirFreq(spark, dir, v), visible, ds.map(rowMeta(_)._1).sum,
              math.max(1L, ds.map(rowMeta(_)._2).sum), hists)._1
          if (filters.nonEmpty && gate.claimed.size == filters.size)
            gate.satisfying.map(rowMeta(_)._1).sum +
              refine(planKept.filter(gate.residual.toSet))
          else refine(planKept)
        }
      case "explain_scan" =>
        procRows(name, "dry-run the manifest pruning for a predicate: per directory, " +
          "its rows/bytes, whether the stats/bloom layer keeps it, and the " +
          "uniform-column CLAIM decision the plan would make (exact-keep / " +
          "exact-skip / residual) - the 'why is this query reading N " +
          "directories' answer, O(directories) metadata, zero file opens. " +
          "Also reports predicate conjuncts the pushdown channel cannot " +
          "translate (those prune nothing)",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("predicate", StringType).build())) { in =>
          val dir = resolve(str(in, 0))
          val v = VersionedLake.currentVersion(spark, dir).getOrElse(
            throw new IllegalStateException(s"no published version in $dir"))
          val (filters, leftover) = bindPredicate(spark, dir, v, str(in, 1))
          val kept = VersionedLake.pruneDirsForFilters(spark, dir, v, filters).toSet
          val rowMeta = VersionedLake.dirRowCounts(spark, dir, v)
          val schema = StructType(Seq(
            StructField("dir", StringType, nullable = false),
            StructField("rows", LongType, nullable = false),
            StructField("bytes", LongType, nullable = false),
            StructField("kept", org.apache.spark.sql.types.BooleanType,
              nullable = false),
            StructField("untranslated", StringType, nullable = true),
            StructField("claim", StringType, nullable = true)))
          val untrans =
            if (leftover.isEmpty) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(
              leftover.map(_.sql).mkString(" AND "))
          // the scan builder's own claim gate: per directory,
          // "exact-keep" = every claimed conjunct proven AND satisfied,
          // "exact-skip" = proven, some conjunct fails (the dir never
          // reads), "residual" = undecidable (the hybrid path would scan
          // it); null = no conjunct claims on this table at all
          val allDirs = VersionedLake.manifest(spark, dir, v)
          val gate = org.apache.spark.sql.graft.LakePruningScanBuilder.claim(filters, allDirs,
            rowMeta, VersionedLake.dirNdv(spark, dir, v), VersionedLake.dirStats(spark, dir, v),
            VersionedLake.visibleSchema(VersionedLake.versionSchema(spark, dir, v).getOrElse(
              new org.apache.spark.sql.types.StructType())),
            VersionedLake.dirHist(spark, dir, v), hybridCapable = true)
          val (residual, satisfying) = (gate.residual.toSet, gate.satisfying.toSet)
          def claimOf(d: String): Any =
            if (gate.claimed.isEmpty) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(
              if (residual(d)) "residual"
              else if (satisfying(d)) "exact-keep"
              else "exact-skip")
          val rows = allDirs.map { d =>
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(d),
              rowMeta.get(d).map(_._1).getOrElse(-1L),
              rowMeta.get(d).map(_._2).getOrElse(-1L),
              kept.contains(d),
              untrans,
              claimOf(d))): InternalRow
          }.toArray
          (schema, rows)
        }
      case "verify_constraints" =>
        procRows(name, "audit every declared constraint (check/unique/fk) against " +
          "the CURRENT snapshot: O(rows) per constraint - the steady-state drift " +
          "check for invariants the commit gates cannot serialize (an FK vs a " +
          "later parent delete)",
          Seq(ProcedureParameter.in("table", StringType).build())) { in =>
          val dir = resolve(str(in, 0))
          val rows = LakeConstraints.verifyAll(spark, dir).map { case (n, k, v) =>
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(n),
              org.apache.spark.unsafe.types.UTF8String.fromString(k),
              v)): InternalRow
          }.toArray
          (StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("kind", StringType, nullable = false),
            StructField("violations", LongType, nullable = false))), rows)
        }
      case "replicate_verify" =>
        procRows(name, "anti-entropy audit: compare the mirror against the source " +
          "AT THE VERSION THE MIRROR CLAIMS (its watermark) - src_only/dst_only row " +
          "counts; both zero = byte-equivalent. O(rows) scan of each side",
          Seq(
            ProcedureParameter.in("src", StringType).build(),
            ProcedureParameter.in("dst", StringType).build())) { in =>
          val (v, so, dn) = LakeReplicate.verify(
            spark, resolve(str(in, 0)), resolve(str(in, 1)))
          (StructType(Seq(
            StructField("applied_version", LongType, nullable = false),
            StructField("src_only", LongType, nullable = false),
            StructField("dst_only", LongType, nullable = false))),
            Array[InternalRow](new GenericInternalRow(Array[Any](v, so, dn))))
        }
      case other =>
        throw new IllegalArgumentException(
          s"unknown procedure 'system.$other' - available: ${Names.mkString(", ")}")
    }

  private def str(in: InternalRow, i: Int): String = in.getUTF8String(i).toString

  /** Multi-row result set with a body-supplied schema; `body` runs at
    * CALL time and must return BOUNDED rows (procedure results are a
    * LocalScan — the k of a top-k, never a table).
    */
  private def procRows(
      procName: String,
      desc: String,
      params: Seq[ProcedureParameter])(
      body: InternalRow => (StructType, Array[InternalRow])): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val (schema, out) = body(input)
        util.Collections.singletonList[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = schema
          override def description(): String = s"graft.system.$procName result"
        }).iterator()
      }
    }

  /** One-row (version BIGINT) result set; `body` runs at CALL time. */
  private def proc(
      procName: String,
      desc: String,
      params: Seq[ProcedureParameter])(body: InternalRow => Long): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val v = body(input)
        util.Collections.singletonList[Scan](new LocalScan {
          override def rows(): Array[InternalRow] =
            Array(new GenericInternalRow(Array[Any](v)))
          override def readSchema(): StructType =
            StructType(Seq(StructField("version", LongType, nullable = false)))
          override def description(): String = s"graft.system.$procName result"
        }).iterator()
      }
    }
}
