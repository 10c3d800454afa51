package org.apache.spark.sql.graft

import java.util.OptionalLong

import graft.sources.LakeMetaAgg
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The catalog scan with MANIFEST-level directory pruning in front of
  * the stock parquet scan: Spark pushes the query's data filters here
  * (the `private[sql]` catalyst-filter channel file sources use — the
  * reason this class lives in the shim package), the lake's
  * stats/bloom layer decides which committed directories can possibly
  * hold matches, and only THOSE directories feed the delegated
  * `ParquetTable` builder — which then re-applies the same filters for
  * its own partition pruning and parquet row-group skipping. Every
  * filter is also returned to Spark as a post-scan filter, so pruning
  * can only skip work, never rows. The net read path for a point
  * SELECT on a 100 TB table: manifest stats/bloom (directories) →
  * hive partitions → parquet footers (row groups) → vectorized decode.
  *
  * Two further manifest-powered layers ride the same builder:
  *
  *   - METADATA-ONLY AGGREGATES ([[SupportsPushDownAggregates]]): a
  *     `count(*)`/`min`/`max`/`sum` the `#rows`/`#stats`/`#ndv` lines can
  *     answer exactly becomes a [[LocalScan]] — the 100 TB table is never
  *     opened, not even its footers. Spark only offers aggregates here
  *     when no post-scan filters remain; filters and GROUP BYs reach the
  *     path exactly when every conjunct/grouping column is decided at
  *     directory granularity by the uniform-column proof (see
  *     [[pushFilters]]) — everything else keeps its post-scan filter and
  *     a real scan, by construction.
  *   - EXACT STATISTICS ([[SupportsReportStatistics]] on the returned
  *     scan): row/byte totals of the KEPT directories from the manifest,
  *     so Catalyst's join planning sees exact numbers without listing a
  *     single file — a small lake table auto-broadcasts with no hint.
  */
final class LakePruningScanBuilder(
    spark: SparkSession,
    identName: String,
    dataRoot: String,
    schema: StructType,
    options: CaseInsensitiveStringMap,
    pruner: Seq[Filter] => Seq[String],
    rowMeta: Map[String, (Long, Long)] = Map.empty,
    aggAnswer: (Aggregation, Option[Seq[String]]) => Option[(StructType, Seq[Array[Any]])] =
      (_, _) => None,
    // HYBRID metadata aggregate: (agg, provenSatisfyingDirs, residualDirs,
    // claimedFilters) → (output schema, deferred rows). Engaged when the
    // uniform-column proof covers SOME but not ALL live directories — the
    // proven side answers from the manifest, the residual side runs as a
    // real filtered job over just its files at scan materialization.
    hybridAggAnswer: (Aggregation, Seq[String], Seq[String], Seq[Filter]) =>
      Option[(StructType, () => Seq[Array[Any]])] = (_, _, _, _) => None,
    // exact read-through for hybrid claims WITHOUT an aggregate:
    // (dirs, filters, requiredSchema) → a scan whose rows are exactly
    // the filter-satisfying rows of the dirs (the claimed conjuncts are
    // gone from Spark's post-scan Filter, so may-overlap is not enough)
    hybridReadThrough: Option[(Seq[String], Seq[Filter], StructType) => Scan] = None,
    spjCols: Seq[String] = Nil,
    runtimeFilterCols: Seq[String] = Nil,
    ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]] = Map.empty,
    statsMeta: Map[String, Map[String, (Option[String], Option[String])]] = Map.empty,
    histMeta: Map[String, Map[String, Array[Double]]] = Map.empty,
    freqMeta: Map[String, Map[String, Array[Byte]]] = Map.empty)
    extends ScanBuilder
    with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var pushed: Seq[Expression] = Nil
  private var required: StructType = schema
  private var answered: Option[(StructType, Seq[Array[Any]])] = None
  private var limitOpt: Option[Int] = None
  // conjuncts CLAIMED as handled (dropped from Spark's post-scan Filter)
  // because directory selection decides them exactly — see pushFilters
  private var claimed: Seq[Filter] = Nil
  private var postScan: Seq[Expression] = Nil
  // the directories surviving the claimed conjuncts' exact decisions
  // (None = no claims; the full pruner result governs alone)
  private var exactKept: Option[Set[String]] = None

  /** LIMIT pushdown as MANIFEST-PREFIX pruning: `LIMIT n` with no
    * post-scan data filters scans only the smallest prefix of kept
    * directories whose exact `#rows` counts cover n — on a 100 TB
    * table, `SELECT * LIMIT 10` opens one directory instead of planning
    * every file. Sound by two facts: every surviving filter is either
    * post-scan (none here) or CLAIMED-EXACT (every row of every kept
    * directory satisfies it — see pushFilters), so nothing downstream
    * can reject rows (the fast path this builder serves already
    * excludes pending MoR deletes); and LIMIT without ORDER BY is
    * any-n-rows, so any row-sufficient directory subset is a correct
    * answer set. Always PARTIAL (the default
    * [[SupportsPushDownLimit.isPartiallyPushed]]): Spark keeps its own
    * Limit operator, this layer only shrinks I/O.
    */
  override def pushLimit(n: Int): Boolean = {
    if (postScan.nonEmpty) return false
    limitOpt = Some(n)
    true
  }

  // Spark probes supportCompletePushDown THEN pushAggregation with the
  // same Aggregation instance; aggAnswer re-reads the manifest on the
  // driver, so memoize by identity instead of paying the metadata I/O
  // twice per metadata-answerable query.
  private var aggCache: Option[(Aggregation, Option[(StructType, Seq[Array[Any]])])] = None
  private def answerFor(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] =
    aggCache match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        // pure path only: with a hybrid residual the exactKept set holds
        // may-match residual dirs whose rows are NOT all-satisfying, so
        // a manifest-only answer over it would overcount
        val r =
          if (hybridResidual.nonEmpty) None
          else aggAnswer(agg, exactKept.map(_.toSeq.sorted))
        aggCache = Some((agg, r))
        r
    }

  private var hybridCache:
      Option[(Aggregation, Option[(StructType, () => Seq[Array[Any]])])] = None
  private def hybridAnswerFor(
      agg: Aggregation): Option[(StructType, () => Seq[Array[Any]])] =
    hybridCache match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r =
          if (hybridResidual.isEmpty) None
          else hybridAggAnswer(agg, provenSatisfying.sorted, hybridResidual.sorted,
            claimed)
        hybridCache = Some((agg, r))
        r
    }

  /** Every filter STAYS post-scan (pruning is additive) — except
    * conjuncts the manifest decides EXACTLY at directory granularity,
    * which are CLAIMED as handled. A conjunct is claimed when its column
    * is UNIFORM in every live directory (all rows null, or all rows one
    * non-null value with a zero null count — the `#stats` min==max +
    * `#ndv` null-count proof; the daily-ingest commit shape, where each
    * commit covers one day/partition value) and its shape/type are in
    * the decidable set. A claimed conjunct's rows are then exactly the
    * kept directories' rows, which buys two things the post-scan rule
    * forbids by construction: FILTERED metadata-only aggregates
    * (`SELECT count(*) WHERE dt = '…'` answers from `#rows` lines of the
    * satisfying directories — zero file opens on a 100 TB table) and
    * LIMIT-prefix pruning under a filter. The claim is decided by the
    * gate [[LakePruningScanBuilder.claim]] over the decoded stats, never
    * the pruner's may-overlap semantics; anything undecidable stays
    * post-scan and costs nothing.
    *
    * HYBRID claims: when the proof covers a MAJORITY of live dirs but
    * not all (one `optimize()`-compacted dir merged several ingest
    * days; a legacy dir predates the stats layer), the conjunct is
    * still claimed — the proven dirs answer from the manifest and the
    * RESIDUAL dirs are read exactly: an aggregate combines the manifest
    * answer with a real filtered job over just the residual files
    * ([[hybridAggAnswer]], deferred to scan materialization), and a
    * plain read routes through [[hybridReadThrough]], which applies the
    * claimed conjuncts per row. Either way the fast path survives real
    * table lifecycles instead of standing down wholesale.
    */
  // HYBRID claim state: directories where at least one claimed conjunct
  // is NOT decidable (a compacted multi-day dir, a legacy dir missing
  // its stats entry). Empty = every claim fully decided (the pure path).
  private var hybridResidual: Seq[String] = Nil
  // proven dirs that satisfy every claimed conjunct (the manifest side)
  private var provenSatisfying: Seq[String] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    val translated = filters.map(e =>
      e -> DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true))
    // dirs where a claim's proof fails become the hybrid RESIDUAL (scanned
    // exactly — see build()), available only when the read-through and
    // hybrid-answer callbacks exist to keep the claim sound
    val gate = LakePruningScanBuilder.claim(translated.flatMap(_._2), pruner(Nil),
      rowMeta, ndvMeta, statsMeta, schema, histMeta,
      hybridCapable = hybridReadThrough.isDefined)
    val (claim, post) = translated.partition(_._2.exists(gate.claimed.contains))
    postScan = post.map(_._1)
    if (claim.nonEmpty) {
      claimed = gate.claimed
      hybridResidual = gate.residual
      provenSatisfying = gate.satisfying
      // the dirs that may hold matching rows: proven satisfiers exactly,
      // residual dirs conservatively (their rows re-filter downstream)
      exactKept = Some((provenSatisfying ++ hybridResidual).toSet)
    }
    postScan
  }

  override def pushedFilters(): Array[Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // only COMPLETE pushdown is ever claimed: a partial answer would make
  // Spark re-aggregate metadata rows as if they were data rows. Spark
  // offers aggregates only when no post-scan filters remain — i.e. when
  // every pushed conjunct was claimed-exact — and the answer then scopes
  // to the surviving directories.
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    postScan.isEmpty &&
      (answerFor(aggregation).isDefined || hybridAnswerFor(aggregation).isDefined)

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (postScan.nonEmpty) return false
    answerFor(aggregation) match {
      case Some(a) => answered = Some(a); true
      case None =>
        hybridAnswerFor(aggregation) match {
          case Some(h) => answeredHybrid = Some(h); true
          case None    => false
        }
    }
  }

  private var answeredHybrid: Option[(StructType, () => Seq[Array[Any]])] = None

  override def build(): Scan = answered match {
    case Some((aggSchema, rows0)) =>
      LakePruningScanBuilder.lastMetaAgg.set(aggSchema.fieldNames.toSeq)
      new LocalScan {
        override def rows(): Array[InternalRow] =
          rows0.map(vs => new GenericInternalRow(vs): InternalRow).toArray
        override def readSchema(): StructType = aggSchema
        override def description(): String =
          s"GraftLakeMetaAgg($identName: ${aggSchema.fieldNames.mkString(", ")})"
      }
    case None if answeredHybrid.isDefined =>
      // HYBRID: manifest answer over the proven dirs ⊕ a real filtered
      // job over just the residual dirs, combined per group. Deferred to
      // scan MATERIALIZATION (planInputPartitions) so EXPLAIN stays
      // metadata-only and no job runs at plan time.
      val (aggSchema, thunk) = answeredHybrid.get
      LakePruningScanBuilder.lastMetaAgg.set(aggSchema.fieldNames.toSeq)
      LakePruningScanBuilder.lastHybridResidual.set(hybridResidual.sorted)
      new LakePruningScanBuilder.DeferredRowsScan(
        s"GraftLakeHybridMetaAgg($identName: " +
          s"${provenSatisfying.size} proven dirs from the manifest + " +
          s"${hybridResidual.size} residual dirs scanned)",
        aggSchema, thunk)
    case None if hybridResidual.nonEmpty =>
      // hybrid claims WITHOUT an answered aggregate: the claimed
      // conjuncts are gone from Spark's post-scan Filter, and residual
      // dirs' rows do NOT all satisfy them — so the scan itself must
      // filter exactly. The read-through bridge applies the claimed
      // filters per row (Catalyst still pushes them into the inner
      // parquet scans for row-group skipping).
      val translated = pushed.flatMap(e =>
        DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true))
      val kept = {
        val p = pruner(translated)
        exactKept.fold(p)(ek => p.filter(ek))
      }
      LakePruningScanBuilder.lastKept.set(kept)
      if (kept.isEmpty)
        new LakePruningScanBuilder.EmptyLakeScan(identName, required)
      else hybridReadThrough.get(kept, claimed, required)
    case None =>
      val translated = pushed.flatMap(e =>
        DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true))
      // claimed-exact conjuncts OWN their decision: the pruner's
      // may-overlap keep is not enough once the post-scan filter is gone,
      // so the kept set intersects with the exact satisfying directories
      val keptAll = {
        val p = pruner(translated)
        exactKept.fold(p)(ek => p.filter(ek))
      }
      // a claimed filter that no directory satisfies yields a ZERO-ROW
      // scan (a planning root would leak its non-satisfying rows)
      if (exactKept.isDefined && keptAll.isEmpty)
        return new LakePruningScanBuilder.EmptyLakeScan(identName, required)
      // limit-prefix pruning (see pushLimit): exact row counts for every
      // kept dir are required — an unaccounted dir could hide the rows
      // that make up n, so any gap disables the prune, never the answer
      val kept = limitOpt match {
        case Some(n) if postScan.isEmpty && keptAll.nonEmpty &&
            keptAll.forall(rowMeta.contains) =>
          val picked = Seq.newBuilder[String]
          var acc = 0L
          val it = keptAll.iterator
          while (acc < n && it.hasNext) {
            val d = it.next(); picked += d; acc += rowMeta(d)._1
          }
          val p = picked.result()
          if (p.isEmpty) keptAll.take(1) else p // LIMIT 0: one plannable root
        case _ => keptAll
      }
      LakePruningScanBuilder.lastKept.set(kept)
      def innerScan(dirs: Seq[String]): Scan = {
        val b = ParquetTable(identName, spark,
          options, dirs.map(d => s"$dataRoot/$d"), Some(schema), classOf[ParquetFileFormat])
          .newScanBuilder(options)
        // only the POST-SCAN conjuncts reach the delegated parquet scan:
        // a CLAIMED conjunct is already decided by directory selection
        // (every surviving row satisfies it), and its column may be
        // pruned from the read schema — pushing it would evaluate
        // against a missing column and drop every row
        b.pushFilters(postScan): Unit
        b.pruneColumns(required)
        b.build()
      }
      val scan = innerScan(kept)
      // exact stats only when every kept dir is accounted; a partial sum
      // would understate the table and could mis-broadcast a huge side
      val stats =
        if (kept.forall(rowMeta.contains))
          Some((kept.map(rowMeta(_)._1).sum, kept.map(rowMeta(_)._2).sum))
        else None
      // STORAGE-PARTITIONED JOIN: a table that declared `spj.enabled` (and
      // a session that enabled v2 bucketing) reports its hive layout as
      // KeyGroupedPartitioning so partition-keyed joins skip the shuffle;
      // tryWrap stands down on degenerate shapes (see KeyGroupedLakeScan)
      if (spjCols.nonEmpty && spark.sessionState.conf.v2BucketingEnabled)
        KeyGroupedLakeScan.tryWrap(spark, scan, spjCols, stats) match {
          case Some(wrapped) => return wrapped
          case None          => ()
        }
      // RUNTIME DIRECTORY PRUNING (dynamic file skipping): a table with
      // stats/bloom layers declares those columns runtime-filterable, so
      // a broadcast join's key set — known only at execution — re-prunes
      // the manifest directories before any file is opened. This is DPP
      // generalized beyond hive partition columns to every column the
      // manifest carries min/max or bloom filters for.
      val resolver = spark.sessionState.analyzer.resolver
      val rtCols = runtimeFilterCols
        .filter(c => required.fieldNames.exists(resolver(_, c)))
      if (rtCols.nonEmpty)
        new LakePruningScanBuilder.RuntimePrunedLakeScan(
          scan, kept, translated, rtCols, innerScan,
          // runtime re-prunes must keep the claimed conjuncts' exact
          // intersection — the post-scan filter that would catch a
          // may-overlap keep is gone for claimed conjuncts
          fs => {
            val p = pruner(fs)
            exactKept.fold(p)(ek => p.filter(ek))
          },
          rowMeta, ndvMeta, statsMeta, schema, histMeta, freqMeta)
      else stats match {
        case Some((rows, bytes)) =>
          val (r2, b2) = LakePruningScanBuilder.refineForFilters(
            translated, kept, rowMeta, ndvMeta, freqMeta, schema, rows, bytes,
            histMeta)
          new LakePruningScanBuilder.ManifestStatsScan(scan, r2, b2,
            LakePruningScanBuilder.columnStatsFor(kept, rowMeta, ndvMeta,
              statsMeta, schema, histMeta))
        case None => scan
      }
  }
}

object LakePruningScanBuilder {

  // ------------------------------------------------------------------
  // UNIFORM-COLUMN exact filter decisions. A directory is UNIFORM in a
  // column when its manifest lines prove every row holds one value:
  // `#ndv` nulls == 0 and `#stats` min == max (one non-null value), or
  // nulls == rows (all null). Conjuncts on such columns are decided
  // exactly by directory selection — the proof behind claiming them as
  // handled (filtered metadata aggregates, limit-under-filter). Values
  // and literals are decoded by LakeMetaAgg.uniformValue / literal.
  // ------------------------------------------------------------------

  private sealed trait Uniform
  private case object Vacuous extends Uniform // zero rows: satisfies all
  private case object AllNull extends Uniform
  private final case class Single(v: Any) extends Uniform

  import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, StringContains, StringEndsWith, StringStartsWith}

  private def shapeOf(f: Filter): Option[(String, Seq[Any])] = f match {
    case EqualTo(a, v)            => Some((a, Seq(v)))
    case EqualNullSafe(a, v)      => Some((a, Seq(v)))
    case In(a, vs)                => Some((a, vs.toSeq))
    case GreaterThan(a, v)        => Some((a, Seq(v)))
    case GreaterThanOrEqual(a, v) => Some((a, Seq(v)))
    case LessThan(a, v)           => Some((a, Seq(v)))
    case LessThanOrEqual(a, v)    => Some((a, Seq(v)))
    case IsNull(a)                => Some((a, Nil))
    case IsNotNull(a)             => Some((a, Nil))
    // LIKE 'p%' / '%s' / '%c%' shapes — Spark only pushes these on
    // string columns; a uniform string dir decides them by direct
    // evaluation on the single value
    case StringStartsWith(a, v)   => Some((a, Seq(v)))
    case StringEndsWith(a, v)     => Some((a, Seq(v)))
    case StringContains(a, v)     => Some((a, Seq(v)))
    // single-level negation: `!=` / NOT IN / NOT LIKE / NOT BETWEEN
    // arrive as Not over the shapes above. Single-level only — the
    // optimizer eliminates double negation, and a nested Not would
    // otherwise invert through a layer dirSatisfies can't see.
    case Not(inner) if !inner.isInstanceOf[Not] => shapeOf(inner)
    case _                        => None
  }

  private def uniformOf(
      d: String,
      c: String,
      dt: org.apache.spark.sql.types.DataType,
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]],
      statsMeta: Map[String, Map[String, (Option[String], Option[String])]],
      histMeta: Map[String, Map[String, Array[Double]]])
      : Option[Uniform] =
    rowMeta.get(d).flatMap { case (rows, _) =>
      if (rows == 0L) Some(Vacuous)
      else for {
        nulls <- ndvMeta.get(d).flatMap(_.get(c)).map(_._2)
        bounds <- statsMeta.get(d).flatMap(_.get(c))
        u <- LakeMetaAgg.uniformValue(dt, rows, nulls, bounds,
          histMeta.get(d).flatMap(_.get(c)))
          .map(_.fold(AllNull: Uniform)(Single.apply))
      } yield u
    }

  /** The uniform-column claim gate: which conjuncts the scan claims, and
    * how it splits `dirs` (the table's directories) under the claims. A
    * conjunct is claimed when [[exactlyDecidable]] holds on every live
    * directory, or, when `hybridCapable`, on a majority of them: that is
    * the compaction/legacy shape the hybrid exists for (most dirs
    * daily-uniform, one merged), while a table where one tiny single-row
    * dir happens to be uniform gains nothing and would pay the bridge's
    * loss of SPJ/runtime-pruning/exact stats on its plain filtered
    * reads. Zero-row directories are decidable and do not count.
    * `satisfying` = proven dirs satisfying every claim (their rows are
    * exactly the claimed rows), `residual` = dirs where some claim is
    * not proven. The scan builder and the `estimate_rows` /
    * `explain_scan` procedures all call this, so the procedures report
    * what the plan does.
    */
  def claim(
      filters: Seq[Filter],
      dirs: Seq[String],
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]],
      statsMeta: Map[String, Map[String, (Option[String], Option[String])]],
      schema: StructType,
      histMeta: Map[String, Map[String, Array[Double]]],
      hybridCapable: Boolean): Claim = {
    def decidable(f: Filter, d: String) =
      exactlyDecidable(f, Seq(d), rowMeta, ndvMeta, statsMeta, schema, histMeta)
    val live = dirs.filter(d => rowMeta.get(d).forall(_._1 > 0))
    val claimed = filters.filter { f =>
      val n = live.count(decidable(f, _))
      n == live.size || (hybridCapable && n * 2 > live.size)
    }
    val proven = dirs.filter(d => claimed.forall(decidable(_, d)))
    Claim(claimed,
      proven.filter(d => claimed.forall(
        dirSatisfies(_, d, rowMeta, ndvMeta, statsMeta, schema, histMeta))),
      dirs.filterNot(proven.toSet))
  }

  final case class Claim(claimed: Seq[Filter], satisfying: Seq[String], residual: Seq[String])

  /** Can directory selection decide `f` exactly over EVERY given dir? */
  def exactlyDecidable(
      f: Filter,
      dirs: Seq[String],
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]],
      statsMeta: Map[String, Map[String, (Option[String], Option[String])]],
      schema: StructType,
      histMeta: Map[String, Map[String, Array[Double]]] = Map.empty): Boolean =
    shapeOf(f) match {
      case None => false
      case Some((c, vs)) =>
        schema.fields.find(_.name == c).map(_.dataType) match {
          case None => false
          case Some(dt) =>
            val valuesOk = f match {
              case EqualNullSafe(_, null) => true // <=> NULL: pure nullness
              case _: In => // null elements never match; the rest must convert
                vs.filter(_ != null).forall(v => LakeMetaAgg.literal(dt, v).isDefined)
              // a negation with a null literal anywhere three-values to
              // row-dropping in subtle ways — decline rather than model it
              case _: Not => vs.forall(v => v != null && LakeMetaAgg.literal(dt, v).isDefined)
              case _ => vs.forall(v => v != null && LakeMetaAgg.literal(dt, v).isDefined)
            }
            valuesOk && dirs.forall(d =>
              uniformOf(d, c, dt, rowMeta, ndvMeta, statsMeta, histMeta).isDefined)
        }
    }

  /** Does every row of `d` satisfy `f`? Call only after
    * [[exactlyDecidable]] held for the dir set containing `d`.
    */
  def dirSatisfies(
      f: Filter,
      d: String,
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]],
      statsMeta: Map[String, Map[String, (Option[String], Option[String])]],
      schema: StructType,
      histMeta: Map[String, Map[String, Array[Double]]] = Map.empty): Boolean = {
    val (c, _) = shapeOf(f).getOrElse(return false)
    val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(return false)
    uniformOf(d, c, dt, rowMeta, ndvMeta, statsMeta, histMeta) match {
      case None          => false // unreachable after exactlyDecidable
      case Some(Vacuous) => true  // zero rows: nothing can leak
      case Some(AllNull) =>
        f match {
          case _: IsNull              => true
          case EqualNullSafe(_, null) => true
          // NOT(value predicate) on a null row is NOT(null) = null: the
          // row drops, so the dir never satisfies — except NOT IS NOT
          // NULL, which is IS NULL
          case Not(_: IsNotNull)      => true
          case _                      => false // value predicates and IS NOT NULL all fail on null
        }
      case Some(Single(u)) =>
        def cmp(v: Any): Option[Int] =
          LakeMetaAgg.literal(dt, v).map(LakeMetaAgg.compare(u, _))
        def u8: org.apache.spark.unsafe.types.UTF8String =
          u.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        def lit8(v: String): org.apache.spark.unsafe.types.UTF8String =
          org.apache.spark.unsafe.types.UTF8String.fromString(v)
        def satSingle(f2: Filter): Boolean = f2 match {
          case _: IsNull                => false
          case _: IsNotNull             => true
          case EqualNullSafe(_, null)   => false
          case EqualTo(_, v)            => cmp(v).contains(0)
          case EqualNullSafe(_, v)      => cmp(v).contains(0)
          case In(_, vs)                => vs.exists(v => v != null && cmp(v).contains(0))
          case GreaterThan(_, v)        => cmp(v).exists(_ > 0)
          case GreaterThanOrEqual(_, v) => cmp(v).exists(_ >= 0)
          case LessThan(_, v)           => cmp(v).exists(_ < 0)
          case LessThanOrEqual(_, v)    => cmp(v).exists(_ <= 0)
          case StringStartsWith(_, v)   => v != null && u8.startsWith(lit8(v))
          case StringEndsWith(_, v)     => v != null && u8.endsWith(lit8(v))
          case StringContains(_, v)     => v != null && u8.contains(lit8(v))
          case _                        => false
        }
        f match {
          // the value is single and NON-null, and the decidability gate
          // barred null literals inside a Not — so plain boolean
          // negation of the inner decision is SQL-exact here
          case Not(inner) => inner match {
            case _: IsNull    => true
            case _: IsNotNull => false
            case _            => !satSingle(inner)
          }
          case other => satSingle(other)
        }
    }
  }

  /** A zero-row scan with a concrete schema — what a claimed-exact
    * filter that no directory satisfies plans to (any real planning
    * root would leak its non-satisfying rows once the post-scan filter
    * is claimed away).
    */
  final class EmptyLakeScan(identName: String, schema: StructType)
      extends Scan with org.apache.spark.sql.connector.read.Batch
      with SupportsReportStatistics {
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
    override def readSchema(): StructType = schema
    override def toBatch: org.apache.spark.sql.connector.read.Batch = this
    override def description(): String = s"GraftLakeEmpty($identName)"
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(p: InputPartition)
            : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
          throw new IllegalStateException("empty scan has no partitions")
      }
    override def estimateStatistics(): Statistics = new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(1L)
      override def numRows(): OptionalLong = OptionalLong.of(0L)
    }
  }

  /** EQUALITY SELECTIVITY for SKEWED CATEGORICAL columns, from the
    * manifest's frequent-values layer: when the pushed filters carry a
    * top-level string equality (or IN) on a column every kept row-bearing
    * directory holds a sketch for, the scan's REPORTED row/byte totals
    * shrink to the sketch estimate instead of the raw directory sum. The
    * DSv2 stats interface has no per-value frequency channel, so this is
    * where categorical skew must reach the planner: the scan itself
    * prices the filter it was handed — a rare-value probe on a
    * 95%-skewed status column reports ~tail-share and auto-broadcasts,
    * the heavy value reports ~full and correctly shuffles, where
    * uniform-over-NDV called both rows/ndv. Size-only estimation
    * consumes it directly (no CBO flag needed: Filter forwards the
    * child's sizeInBytes), and CBO's own FilterEstimation only shrinks
    * it further. Never a correctness lever — every filter stays
    * post-scan; a bad estimate costs plan quality only, and the
    * estimate is built from upper bounds for tracked (heavy) values,
    * residual-uniform for the tail ([[graft.functions.FreqSketch.estimate]]).
    * Conservatism rule as everywhere: a single live directory missing
    * the column's sketch (or its NDV entry) disables the refinement.
    * Multiple sketched equalities take the MINIMUM single-column
    * estimate (never multiplied — independence across skewed columns is
    * exactly the assumption this layer exists to avoid).
    *
    * IS NULL / IS NOT NULL conjuncts refine EXACTLY off the ndv layer's
    * per-directory null counts (no sketch needed) — the other
    * categorical filter curation queries live on, priced at its true
    * cardinality instead of the planner's default fraction.
    *
    * RANGE conjuncts (`>`/`>=`/`<`/`<=`, and BETWEEN as the pushed
    * conjunct pair) price off the per-directory equi-height histogram
    * edges riding the same `#ndv` layer: each directory's edges give a
    * piecewise-linear CDF of its non-null rows, the kept directories sum
    * row-weighted, and the interval's mass IS the estimate — the single
    * most common curation filter (date windows, score thresholds) now
    * refines in SIZE-ONLY mode, where min/max-uniform estimation lives
    * only behind the CBO flag and the raw directory sum is off by orders
    * of magnitude on a skewed column. Bounds on the same column tighten
    * one interval; distinct columns take the MINIMUM single-column
    * estimate, never a product (same non-independence rule as the
    * sketches). Full-coverage-or-stand-down as everywhere: one live
    * directory missing the column's edges (or its null count) disables
    * that column's refinement.
    */
  def refineForFilters(
      pushed: Seq[Filter],
      kept: Seq[String],
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]],
      freqMeta: Map[String, Map[String, Array[Byte]]],
      dataSchema: StructType,
      rows: Long,
      bytes: Long,
      histMeta: Map[String, Map[String, Array[Double]]] = Map.empty): (Long, Long) = {
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
    if (rows <= 0L) return (rows, bytes)
    // top-level conjuncts only: Spark pushes each AND leg as its own
    // Filter, so every entry here independently bounds the result
    // values render to the sketch's stored-string domain: strings as-is,
    // integrals via toString, DATE/TIMESTAMP through the same Catalyst
    // Cast the writer's `cast(col as string)` evaluated (session-TZ
    // timestamps render identically by construction; fractional types
    // are never sketched — see statsAggExprs)
    def render(v: Any): Option[String] = v match {
      case s: String                                                 => Some(s)
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
          _: java.lang.Long                                          => Some(v.toString)
      case d: java.sql.Date                                          => Some(d.toString)
      case d: java.time.LocalDate                                    => Some(d.toString)
      case _: java.sql.Timestamp | _: java.time.Instant =>
        scala.util.Try {
          import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
          import org.apache.spark.sql.types.{StringType, TimestampType}
          Cast(Literal.create(v, TimestampType), StringType,
            Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
            .eval().toString
        }.toOption
      case _                                                         => None
    }
    val eqs: Seq[(String, Seq[String])] = pushed.flatMap {
      case EqualTo(a, v)       => render(v).map(r => a -> Seq(r))
      case EqualNullSafe(a, v) if v != null => render(v).map(r => a -> Seq(r))
      case In(a, vs) if vs.nonEmpty =>
        val rs = vs.toSeq.map(render)
        if (rs.forall(_.isDefined)) Some(a -> rs.flatten) else None
      case _ => None
    }
    // null-ness conjuncts price EXACTLY off the ndv layer's null counts —
    // `WHERE c IS NOT NULL` on a mostly-null enrichment column is the
    // other categorical filter curation queries live on
    val nullness: Seq[(String, Boolean)] = pushed.collect {
      case IsNull(a)    => a -> true
      case IsNotNull(a) => a -> false
    }
    val hasRange = pushed.exists {
      case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
          _: LessThanOrEqual => true
      case _ => false
    }
    if ((eqs.isEmpty && nullness.isEmpty && !hasRange) ||
        !kept.forall(rowMeta.contains))
      return (rows, bytes)
    val live = kept.filter(d => rowMeta(d)._1 > 0)
    if (live.isEmpty) return (rows, bytes)
    var best = rows
    nullness.foreach { case (c, wantNull) =>
      if (live.forall(d => ndvMeta.get(d).exists(_.contains(c)))) {
        val est = live.iterator.map { d =>
          val nulls = ndvMeta(d)(c)._2
          if (wantNull) nulls else math.max(0L, rowMeta(d)._1 - nulls)
        }.sum
        best = math.min(best, math.max(if (wantNull) 0L else 1L, est))
      }
    }
    eqs.foreach { case (c, values) =>
      val sketchable = dataSchema.fields.find(_.name == c).exists { f =>
        import org.apache.spark.sql.types._
        f.dataType match {
          case StringType | ByteType | ShortType | IntegerType | LongType |
              DateType | TimestampType => true
          case _ => false
        }
      }
      val covered = live.forall(d =>
        freqMeta.get(d).exists(_.contains(c)) &&
          ndvMeta.get(d).exists(_.contains(c)))
      if (sketchable && covered) {
        val est = live.iterator.map { d =>
          val (nd, nulls) = ndvMeta(d)(c)
          val nonNull = math.max(0L, rowMeta(d)._1 - nulls)
          val ndv = graft.sources.VersionedLake.ndvEstimate(Seq(nd))
          val perDir = values.iterator.map(v =>
            graft.functions.FreqSketch.estimate(freqMeta(d)(c), nonNull, ndv, v)).sum
          math.min(nonNull.toDouble, perDir)
        }.sum
        best = math.min(best, math.max(1L, math.ceil(est).toLong))
      }
    }
    // range conjuncts: per column, the conjuncts tighten ONE interval on
    // the histogram's double domain (numerics as-is, dates as epoch days,
    // timestamps as epoch micros — the writer's own edge domain). The >
    // vs >= distinction matters exactly at a duplicated-edge point mass
    // (a 95%-heavy value IS one), so each bound carries its strictness
    // into the inclusive/exclusive CDF.
    def renderNum(v: Any): Option[Double] = v match {
      case n: java.lang.Number   => Some(n.doubleValue())
      case d: java.sql.Date      => Some(d.toLocalDate.toEpochDay.toDouble)
      case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
      case t: java.sql.Timestamp =>
        Some(math.floorDiv(t.getTime, 1000L) * 1e6 + t.getNanos / 1000.0)
      case i: java.time.Instant  =>
        Some(i.getEpochSecond * 1e6 + i.getNano / 1000.0)
      case d: scala.math.BigDecimal => Some(d.toDouble)
      case _ => None
    }
    // per column: (lo, loStrict, hi, hiStrict); equal bounds tighten
    // toward strict (the smaller row set)
    val bounds = scala.collection.mutable.LinkedHashMap[String, (Double, Boolean, Double, Boolean)]()
    def tightenLo(c: String, x: Double, strict: Boolean): Unit = {
      val (l0, ls0, h0, hs0) = bounds.getOrElse(c,
        (Double.NegativeInfinity, false, Double.PositiveInfinity, false))
      val (l, ls) =
        if (x > l0) (x, strict)
        else if (x == l0) (l0, ls0 || strict)
        else (l0, ls0)
      bounds(c) = (l, ls, h0, hs0)
    }
    def tightenHi(c: String, x: Double, strict: Boolean): Unit = {
      val (l0, ls0, h0, hs0) = bounds.getOrElse(c,
        (Double.NegativeInfinity, false, Double.PositiveInfinity, false))
      val (h, hs) =
        if (x < h0) (x, strict)
        else if (x == h0) (h0, hs0 || strict)
        else (h0, hs0)
      bounds(c) = (l0, ls0, h, hs)
    }
    pushed.foreach {
      case GreaterThan(a, v)        => renderNum(v).foreach(tightenLo(a, _, strict = true))
      case GreaterThanOrEqual(a, v) => renderNum(v).foreach(tightenLo(a, _, strict = false))
      case LessThan(a, v)           => renderNum(v).foreach(tightenHi(a, _, strict = true))
      case LessThanOrEqual(a, v)    => renderNum(v).foreach(tightenHi(a, _, strict = false))
      case _                        => ()
    }
    bounds.foreach { case (c, (lo, loStrict, hi, hiStrict)) =>
      val covered = live.forall(d =>
        ndvMeta.get(d).exists(_.contains(c)) &&
          histMeta.get(d).exists(_.get(c).exists(es =>
            es.length >= 2 && es.sliding(2).forall(p => p(0) <= p(1)) &&
              !es.exists(e => e.isNaN || e.isInfinite))))
      if (covered) {
        val est = live.iterator.map { d =>
          val nonNull = math.max(0L, rowMeta(d)._1 - ndvMeta(d)(c)._2)
          val es = histMeta(d)(c)
          // rows in the interval: F(hi side) − F(lo side).
          //   v >  lo excludes the point mass at lo → subtract F≤(lo)
          //   v >= lo includes it                   → subtract F<(lo)
          //   v <  hi excludes the mass at hi       → take F<(hi)
          //   v <= hi includes it                   → take F≤(hi)
          val hiF =
            if (hi == Double.PositiveInfinity) 1.0
            else edgeCdf(es, hi, inclusive = !hiStrict)
          val loF =
            if (lo == Double.NegativeInfinity) 0.0
            else edgeCdf(es, lo, inclusive = loStrict)
          nonNull * math.max(0.0, hiF - loF)
        }.sum
        best = math.min(best, math.max(1L, math.ceil(est).toLong))
      }
    }
    if (best >= rows) (rows, bytes)
    else (best, math.max(1L, math.ceil(bytes.toDouble * best / rows).toLong))
  }

  /** Fraction of one directory's non-null rows relative to `x`, from its
    * equi-height edge array: piecewise-linear between edges, with
    * duplicate edges read as a point mass spanning bins. `inclusive`
    * gives F(x) = P[v <= x] (the point mass AT x counts); exclusive
    * gives P[v < x] — the distinction that prices `>= heavy_value`
    * correctly when the heavy value sits on duplicated edges (including
    * the head or tail edge). The shared CDF for the size-only range
    * refinement and the merged CBO histogram.
    */
  private def edgeCdf(es: Array[Double], x: Double, inclusive: Boolean = true): Double = {
    val n = es.length - 1
    if (x < es.head) 0.0
    else if (x > es.last) 1.0
    else {
      var j = java.util.Arrays.binarySearch(es, x)
      if (j < 0) {
        j = -j - 2
        val width = es(j + 1) - es(j)
        val frac = if (width <= 0) 1.0 else (x - es(j)) / width
        math.min(1.0, (j + frac) / n)
      } else if (inclusive) {
        // last occurrence: all bins of the duplicate span count
        while (j < n && es(j + 1) == x) j += 1
        j.toDouble / n
      } else {
        // first occurrence: none of the duplicate span counts
        while (j > 0 && es(j - 1) == x) j -= 1
        j.toDouble / n
      }
    }
  }

  /** COLUMN-LEVEL CBO STATISTICS from the manifest's `#ndv` + `#stats`
    * layers: the kept directories' per-column HLL sketches union
    * driver-side into one distinct-count estimate, null counts sum
    * exactly, and min/max merge as TYPED Catalyst values
    * ([[graft.sources.LakeMetaAgg.mergedBound]]; numeric and date
    * columns — what FilterEstimation's range selectivity consumes; an
    * undecodable or non-finite bound is omitted). A column is reported ONLY when every
    * row-bearing kept directory carries its sketch — a partial union
    * would understate NDV and mis-steer join ordering the same way a
    * partial row sum would mis-broadcast (the conservatism rule
    * [[build]] applies to rows/bytes); min/max likewise require every
    * live dir's stats entry (an all-null dir contributes bounds of
    * nothing and is skipped, a MISSING entry blocks the bound).
    * Zero-row directories contribute nothing and need no line.
    * O(dirs × cols) driver metadata work on sketches of a few KB —
    * planning-time cost, never a file open.
    */
  def columnStatsFor(
      kept: Seq[String],
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]],
      statsMeta: Map[String, Map[String, (Option[String], Option[String])]] = Map.empty,
      dataSchema: StructType = new StructType(),
      histMeta: Map[String, Map[String, Array[Double]]] = Map.empty)
      : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    import org.apache.spark.sql.types._
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    // only row-bearing dirs need a sketch; a dir without a #rows line is
    // unknown (legacy) and blocks reporting entirely — stats must never
    // describe data they cannot see
    if (!kept.forall(rowMeta.contains)) return out
    val live = kept.filter(d => rowMeta(d)._1 > 0)
    if (live.isEmpty) return out
    // the merged decoded bound, for the types FilterEstimation's range
    // selectivity consumes; a non-finite double bound is not reported
    def mergeBound(c: String, takeMin: Boolean): Option[Object] = {
      val dt = dataSchema.fields.find(_.name == c).map(_.dataType).getOrElse(return None)
      if (!dt.isInstanceOf[NumericType] && dt != DateType) return None
      LakeMetaAgg.mergedBound(dt, c, live, statsMeta, histMeta, takeMin).flatten.map(_._2)
        .filter {
          case d: java.lang.Double => !d.isNaN && !d.isInfinite
          case f: java.lang.Float  => !f.isNaN && !f.isInfinite
          case _                   => true
        }.map(_.asInstanceOf[Object])
    }
    // EQUI-HEIGHT HISTOGRAM from the per-directory edge sets (the `"e"`
    // arrays riding the #ndv layer): each directory's edges describe an
    // equi-height distribution of its non-null rows; the kept dirs form
    // a row-weighted MIXTURE whose CDF is the sum of piecewise-linear
    // per-dir CDFs, and inverting it at K cumulative targets yields one
    // global equi-height histogram — the statistic that prices SKEWED
    // range predicates correctly where min/max-uniform estimation is
    // off by orders of magnitude. Per-bin NDV is the uniform share of
    // the merged HLL estimate (documented approximation: edges carry the
    // skew, which is what range selectivity consumes; per-bin distinct
    // structure would need per-bin sketches for marginal gain).
    // Conservatism rule as everywhere: any row-bearing dir missing the
    // column's edges blocks the histogram, never distorts it. Driver
    // cost O(K · log(range) · dirs · log(bins)) on plain doubles.
    def mergedHistogram(c: String, globalNdv: Long)
        : Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
      import org.apache.spark.sql.connector.read.colstats.{Histogram, HistogramBin}
      val parts = Seq.newBuilder[(Array[Double], Double)]
      live.foreach { d =>
        val nonNull =
          rowMeta(d)._1 - ndvMeta.get(d).flatMap(_.get(c)).map(_._2).getOrElse(0L)
        if (nonNull > 0) histMeta.get(d).flatMap(_.get(c)) match {
          case Some(es) if es.length >= 2 &&
              es.sliding(2).forall(p => p(0) <= p(1)) &&
              !es.exists(e => e.isNaN || e.isInfinite) =>
            parts += ((es, nonNull.toDouble))
          case _ => return None
        }
      }
      val ps = parts.result()
      if (ps.isEmpty) return None
      val total = ps.map(_._2).sum
      val lo = ps.map(_._1.head).min
      val hi = ps.map(_._1.last).max
      if (!(lo < hi)) return None // a point column: min/max already say it all
      def cdf(x: Double): Double =
        ps.iterator.map { case (es, w) => w * edgeCdf(es, x) }.sum
      val K = graft.sources.VersionedLake.HistBins
      val edges = new Array[Double](K + 1)
      edges(0) = lo; edges(K) = hi
      var k = 1
      while (k < K) {
        val target = total * k / K
        var a = lo; var b = hi; var i = 0
        while (i < 48) {
          val m = a / 2 + b / 2
          if (cdf(m) < target) a = m else b = m
          i += 1
        }
        edges(k) = a / 2 + b / 2
        k += 1
      }
      k = 1
      while (k <= K) { // monotone despite bisection jitter on point masses
        if (edges(k) < edges(k - 1)) edges(k) = edges(k - 1)
        k += 1
      }
      val binNdv = math.max(1L, globalNdv / K)
      val binArr: Array[HistogramBin] = Array.tabulate(K) { i =>
        new HistogramBin {
          override def lo(): Double = edges(i)
          override def hi(): Double = edges(i + 1)
          override def ndv(): Long = binNdv
        }
      }
      Some(new Histogram {
        override def height(): Double = total / K
        override def bins(): Array[HistogramBin] = binArr
      })
    }
    val perDir = live.map(ndvMeta.getOrElse(_, Map.empty))
    val covered = perDir.map(_.keySet).reduce(_ intersect _)
    covered.foreach { c =>
      if (perDir.forall(_.contains(c))) {
        val entries = perDir.map(_(c))
        val distinct = graft.sources.VersionedLake.ndvEstimate(entries.map(_._1))
        val nulls = entries.map(_._2).sum
        val lo = mergeBound(c, takeMin = true)
        val hi = mergeBound(c, takeMin = false)
        val hist = mergedHistogram(c, distinct)
        out.put(Expressions.column(c), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(distinct)
          override def nullCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(nulls)
          override def min(): java.util.Optional[Object] =
            lo.fold(java.util.Optional.empty[Object]())(java.util.Optional.of)
          override def max(): java.util.Optional[Object] =
            hi.fold(java.util.Optional.empty[Object]())(java.util.Optional.of)
          override def histogram(): java.util.Optional[
            org.apache.spark.sql.connector.read.colstats.Histogram] =
            hist.fold(java.util.Optional.empty[
              org.apache.spark.sql.connector.read.colstats.Histogram]())(
              java.util.Optional.of)
        })
      }
    }
    out
  }

  /** Observability hooks (specs assert pruning/meta-agg fired; harmless in prod). */
  val lastKept = new ThreadLocal[Seq[String]]
  val lastMetaAgg = new ThreadLocal[Seq[String]]
  // the hybrid path's residual dirs (what the sub-job will scan) — set at
  // plan time so specs can assert "only that dir's files are read"
  val lastHybridResidual = new ThreadLocal[Seq[String]]

  /** A scan whose rows come from a driver-side thunk run at scan
    * MATERIALIZATION (one local partition) — the hybrid metadata
    * aggregate's carrier: planning and EXPLAIN never run the residual
    * job; the first execution does, exactly once per scan instance.
    */
  // top-level so the task-serialized partition does not capture the
  // (non-serializable) scan instance as $outer
  private case class DeferredRows(rows: Array[InternalRow])
      extends org.apache.spark.sql.connector.read.InputPartition

  private class DeferredRowsReaderFactory
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val rs = p.asInstanceOf[DeferredRows].rows
        private var i = -1
        override def next(): Boolean = { i += 1; i < rs.length }
        override def get(): InternalRow = rs(i)
        override def close(): Unit = ()
      }
  }

  final class DeferredRowsScan(
      desc: String,
      aggSchema: StructType,
      thunk: () => Seq[Array[Any]])
      extends Scan with org.apache.spark.sql.connector.read.Batch {
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
    override def readSchema(): StructType = aggSchema
    override def toBatch: org.apache.spark.sql.connector.read.Batch = this
    override def description(): String = desc
    // memoized: re-planning (AQE, a retried stage) must not re-run the
    // residual job — the snapshot is version-pinned, so the rows are
    // stable for the scan's lifetime
    private lazy val computed: Array[InternalRow] =
      thunk().map(vs => new GenericInternalRow(vs): InternalRow).toArray
    override def planInputPartitions(): Array[InputPartition] =
      Array(DeferredRows(computed))
    override def createReaderFactory(): PartitionReaderFactory =
      new DeferredRowsReaderFactory
  }
  // runtime pruning runs on the execution-prep thread, not the test
  // thread — a ThreadLocal would be invisible to the spec
  val lastRuntimeKept = new java.util.concurrent.atomic.AtomicReference[Seq[String]]

  /** RUNTIME-PRUNED lake scan ([[SupportsRuntimeV2Filtering]]): Spark's
    * PartitionPruning rule injects the build side's key set as an IN
    * predicate at execution time; [[filter]] folds it into the SAME
    * manifest stats/bloom pruner the compile-time filters went through
    * and rebuilds the delegated parquet scan over the surviving
    * directories. A point-key broadcast join against a 100 TB
    * stats-layered fact then opens only the directories whose min/max
    * or bloom can hold the build keys — dynamic partition pruning
    * generalized to EVERY manifest-layered column, not just the hive
    * layout. Conservative by construction: the pruner only ever drops
    * directories that cannot hold a match, and every filter stays
    * post-scan, so a missed prune costs I/O, never rows.
    *
    * Statistics stay manifest-exact over the CURRENTLY-kept directories
    * (join planning already happened when runtime filters fire, but AQE
    * re-reads them for stage re-optimization).
    */
  final class RuntimePrunedLakeScan(
      private val initial: Scan,
      initialKept: Seq[String],
      compiled: Seq[Filter],
      private val rtCols: Seq[String],
      rebuild: Seq[String] => Scan,
      pruner: Seq[Filter] => Seq[String],
      rowMeta: Map[String, (Long, Long)],
      ndvMeta: Map[String, Map[String, (Option[Array[Byte]], Long)]] = Map.empty,
      statsMeta: Map[String, Map[String, (Option[String], Option[String])]] = Map.empty,
      dataSchema: StructType = new StructType(),
      histMeta: Map[String, Map[String, Array[Double]]] = Map.empty,
      freqMeta: Map[String, Map[String, Array[Byte]]] = Map.empty)
      extends Scan
      with org.apache.spark.sql.connector.read.Batch
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
      with SupportsReportStatistics {
    import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}

    @volatile private var kept: Seq[String] = initialKept
    @volatile private var current: Scan = initial

    override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      rtCols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

    override def filter(predicates: Array[Predicate]): Unit = {
      val extra = org.apache.spark.sql.internal.connector.PredicateUtils
        .toV1(predicates).toSeq
      if (extra.nonEmpty) {
        val now = pruner(compiled ++ extra)
        lastRuntimeKept.set(now)
        if (now.toSet != kept.toSet) {
          kept = now
          current = rebuild(now)
        }
      }
    }

    override def readSchema(): StructType = current.readSchema()
    override def toBatch: Batch = this
    override def description(): String =
      s"GraftRuntimePruned(${rtCols.mkString(",")}) " + current.description()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      current.columnarSupportMode()

    override def planInputPartitions(): Array[InputPartition] =
      current.toBatch.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      current.toBatch.createReaderFactory()

    override def estimateStatistics(): Statistics = {
      val ds = kept
      if (ds.forall(rowMeta.contains)) {
        val (rows0, bytes0) = (ds.map(rowMeta(_)._1).sum, ds.map(rowMeta(_)._2).sum)
        val (rows, bytes) = refineForFilters(
          compiled, ds, rowMeta, ndvMeta, freqMeta, dataSchema, rows0, bytes0,
          histMeta)
        val cs = columnStatsFor(ds, rowMeta, ndvMeta, statsMeta, dataSchema, histMeta)
        new Statistics {
          override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
          override def numRows(): OptionalLong = OptionalLong.of(rows)
          override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cs
        }
      } else current match {
        case s: SupportsReportStatistics => s.estimateStatistics()
        case _ => new Statistics {
          override def sizeInBytes(): OptionalLong = OptionalLong.empty()
          override def numRows(): OptionalLong = OptionalLong.empty()
        }
      }
    }

    override def equals(other: Any): Boolean = other match {
      case s: RuntimePrunedLakeScan => initial == s.initial && rtCols == s.rtCols
      case _                        => false
    }
    override def hashCode(): Int = (initial, rtCols).hashCode()
  }

  /** The delegated parquet scan with manifest-exact statistics: byte and
    * row totals come from `#rows` lines instead of a file listing, and
    * the row count is EXACT — join planning upgrades from size guesses
    * to true cardinalities. Everything else delegates untouched (the
    * inner scan still plans its own partitions, columnar mode, and
    * runtime metrics).
    */
  final class ManifestStatsScan(
      val inner: Scan, rows: Long, bytes: Long,
      colStats: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        java.util.Collections.emptyMap())
      extends Scan with SupportsReportStatistics
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
    override def readSchema(): StructType = inner.readSchema()
    override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
    override def description(): String = inner.description()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      inner.supportedCustomMetrics()
    override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      inner.reportDriverMetrics()
    override def estimateStatistics(): Statistics = new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
    // runtime filtering (dynamic partition pruning) must survive the
    // wrap: forward to the inner scan when it participates; an empty
    // attribute list otherwise, which Spark reads as "nothing to prune"
    // — never a silent capability downgrade of the delegate
    override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      inner match {
        case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
          f.filterAttributes()
        case _ => Array.empty
      }
    override def filter(predicates: Array[Predicate]): Unit = inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filter(predicates)
      case _ => ()
    }
    override def equals(other: Any): Boolean = other match {
      case s: ManifestStatsScan => inner == s.inner
      case _                    => false
    }
    override def hashCode(): Int = inner.hashCode()
  }
}
