package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Registry of materialized views eligible for AUTOMATIC QUERY REWRITE
  * ([[graft.plans.MvRewriteRule]]): a registered view tells the planner
  * "this [[LakeView]] state table holds `aggs` grouped by `keys` over
  * the corpus at `corpusDir`" — enough to answer any aggregate query
  * whose grouping keys are a subset of `keys` and whose aggregates
  * derive from the stored state, by reading O(groups) view rows instead
  * of the corpus. At 100 TB this is the decisive rewrite: a dashboard
  * rollup over a fact table costs the view's group count, not the
  * table, and the view itself is maintained at O(delta) per commit by
  * [[LakeView.sync]].
  *
  * The registration is a CLAIM the caller owns: `aggs` must be exactly
  * the aggregations `stateOf` computed (same source columns, same
  * grouping), or the rewrite would answer with someone else's numbers.
  * The rule itself guards everything it can check: key subset, state
  * availability per aggregate, deterministic key-only filters, and
  * FRESHNESS — a view whose sync watermark is behind the corpus's
  * current version is skipped entirely, so a stale view can never serve
  * a query (the steady state is "sync then query", same as any
  * lakehouse MV).
  *
  * Scope mirrors classic aggregate-MV rewriting (Calcite/Oracle
  * "query rewrite", materialized Delta/BigQuery BI engines): matching
  * is by table identity + column names, not expression equivalence.
  */
object LakeMv {

  /** Default per-group cardinality cap for `distinct` state columns —
    * generous for the dashboard dimensions exact-distinct serves, small
    * enough that a state ROW stays KB-sized.
    */
  val DefaultDistinctCap = 4096

  /** op ∈ sum|count|min|max|hll|distinct; count's source is "*"
    * (count(*) / count(1) at registration time), and `count(col)` state
    * (non-null counts) registers as ("count", col). A query's avg(c) is
    * served when BOTH (sum, c) and (count, c) state columns exist.
    * ("hll", c) stores a DataSketches HLL sketch per group (lgK 12, the
    * Spark default) merged by union — it serves the sketch-native
    * approximate-distinct spelling `hll_sketch_estimate(
    * hll_sketch_agg(c))` EXACTLY (union of per-delta sketches and the
    * one-pass sketch reach identical register states), while
    * `approx_count_distinct` stays on the corpus scan (a different
    * estimator — routing it would change the answer). ("distinct", c)
    * stores the per-group VALUE SET, merged by set union, serving exact
    * `count(DISTINCT c)` — bounded by `distinctCap`: registration
    * REFUSES a column whose current per-group cardinality exceeds the
    * cap (the DDL-time moment, like ADD CONSTRAINT's full scan), and
    * maintenance asserts it per sync so a group that outgrows the
    * declaration fails the SYNC (the view goes stale and the rewrite
    * declines by freshness) — a query is never wrong and never errors.
    * `src` is any SQL expression over corpus columns, not just a column
    * name — `sum(value * qty)` registers as ("sum", "value * qty") and
    * the rewrite matches the query's aggregate argument by ANALYZED
    * expression equivalence (coercion casts inserted on both sides, so
    * `value * qty` over a double×long pair matches the query's coerced
    * tree exactly; see [[graft.plans.MvRewriteRule]]).
    */
  final case class MvDef(
      corpusDir: String,
      viewDir: String,
      keys: Seq[String],
      aggs: Map[String, (String, String)],
      liveness: Option[String] = None,
      distinctCap: Int = DefaultDistinctCap) {
    require(aggs.nonEmpty, "an MV registration needs at least one aggregate")
    require(
      aggs.values.forall(a =>
        Set("sum", "count", "min", "max", "hll", "distinct")(a._1)),
      s"MV state ops must be sum/count/min/max/hll/distinct, got ${aggs.values.map(_._1).toSet}")
    require(distinctCap >= 1, s"distinctCap must be >= 1, got $distinctCap")
    val mergeSpec: Seq[(String, String)] =
      aggs.toSeq.sortBy(_._1).map {
        case (c, ("count", _)) => c -> "sum" // counts merge by summing
        case (c, (op, _))      => c -> op
      }

    /** The registered state computed MECHANICALLY over a corpus slice —
      * byte-for-byte the algebra `stateOf` promised at registration, so
      * a tail of unsynced appends can aggregate into mergeable state
      * without the caller's function.
      */
    private[graft] def stateOver(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions._
      // expr(), not col(): a registered source may be any SQL expression
      // over corpus columns (`value * qty`); a bare column name parses
      // to the same attribute reference it always was
      val cols = aggs.toSeq.sortBy(_._1).map {
        case (c, ("sum", src))      => sum(expr(src)).as(c)
        case (c, ("count", "*"))    => count(lit(1)).as(c)
        case (c, ("count", src))    => count(expr(src)).as(c)
        case (c, ("min", src))      => min(expr(src)).as(c)
        case (c, ("max", src))      => max(expr(src)).as(c)
        case (c, ("hll", src))      => hll_sketch_agg(expr(src)).as(c)
        case (c, ("distinct", src)) => array_sort(collect_set(expr(src))).as(c)
        case (c, (op, _)) => throw new IllegalStateException(s"$c: $op unreachable")
      }
      df.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    }

    /** [[stateOver]] with the distinct-cap assertion — the MAINTENANCE
      * path's state function, shaped for [[LakeView.syncWith]]: a group
      * whose MERGED value set (state already committed for the group ∪
      * this delta's values, when the frame lands on a merge path) busts
      * the declared cap fails the sync itself (the view then lags and
      * the rewrite declines by freshness — a metadata check at plan
      * time), so the cap can never surface as a query-time error or a
      * silently unbounded state row. The per-delta check alone would let
      * a group grow past the cap across many small appends with every
      * sync passing — the invariant is per group across the view's
      * LIFETIME, so the guard left-joins the delta against the current
      * merged state (O(delta groups + view groups), distinct columns
      * only) and asserts on the union. Rebuild/first-sync frames
      * (`mergesWithPrior = false`) REPLACE all state, so they assert on
      * the frame alone — unioning retired values in would wrongly fail
      * a rebuild that just shrank the sets. The query-path tail combine
      * ([[readCombined]]) deliberately uses the unguarded [[stateOver]]:
      * the set is exact regardless of size, and a query must not throw.
      */
    private[graft] def stateOverGuarded(
        spark: SparkSession): (DataFrame, Boolean) => DataFrame = {
      (df, mergesWithPrior) =>
        import org.apache.spark.sql.functions._
        val distinctCols = aggs.collect { case (c, ("distinct", _)) => c }.toSeq
        val delta = stateOver(df)
        if (distinctCols.isEmpty) delta
        else {
          val prior: Option[DataFrame] =
            if (!mergesWithPrior) None
            else VersionedLake.currentVersion(spark, viewDir).map { _ =>
              val sel = keys.map(col) ++
                distinctCols.map(c => col(c).as(s"__prior_$c"))
              LakeView.read(spark, viewDir, keys, mergeSpec, liveness = None)
                .select(sel: _*)
            }
          val joined = prior.fold(delta)(st => delta.join(st, keys, "left"))
          val guarded = distinctCols.foldLeft(joined) { (d, c) =>
            val mergedSize =
              if (prior.isEmpty) size(col(c))
              else when(col(s"__prior_$c").isNull, size(col(c)))
                .otherwise(size(array_distinct(concat(col(c), col(s"__prior_$c")))))
            d.withColumn(c,
              when(assert_true(mergedSize <= distinctCap,
                lit(s"MV distinct state '$c' exceeds the declared cap " +
                  s"$distinctCap for a group - raise it with " +
                  "system.alter_mv(distinct_cap => ...) or evict the " +
                  "column with system.alter_mv(drop_state_col => ...)")).isNull,
                col(c)))
          }
          if (prior.isEmpty) guarded
          else guarded.drop(distinctCols.map(c => s"__prior_$c"): _*)
        }
    }
  }

  private val registry = TrieMap.empty[String, MvDef]

  private def norm(dir: String): String = dir.stripSuffix("/")

  def register(mv: MvDef): Unit =
    registry.put(norm(mv.corpusDir), mv.copy(corpusDir = norm(mv.corpusDir))): Unit

  def drop(corpusDir: String): Unit = registry.remove(norm(corpusDir)): Unit

  private[graft] def clear(): Unit = { registry.clear(); consulted.clear() }

  def isEmpty: Boolean = registry.isEmpty

  def forCorpus(corpusDir: String): Option[MvDef] = registry.get(norm(corpusDir))

  // ------------------------------------------------------------------
  // Durable registrations: the MvDef rides the CORPUS table's props
  // (`mv.def`, one JSON object — CAS-guarded like every property), so a
  // fresh session rediscovers the view the moment it resolves the table
  // by name (GraftCatalog.loadTable consults this once per corpus per
  // JVM). SQL creates/refreshes/drops ride GraftProcedures.
  // ------------------------------------------------------------------

  private val PropKey = "mv.def"

  /** corpus dirs whose props were already consulted this JVM — a table
    * resolve must not pay a props read per query. Cross-session drops
    * are invisible to a long-lived peer session until it restarts, the
    * ordinary metadata-cache trade (Spark's own catalog caches the
    * same way); same-session create/drop update both maps directly.
    */
  private val consulted = TrieMap.empty[String, Boolean]

  private def renderDef(mv: MvDef): String = {
    import org.json4s.JsonAST._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "viewDir" -> (JString(mv.viewDir): JValue),
      "keys" -> (JArray(mv.keys.toList.map(JString(_): JValue)): JValue),
      "aggs" -> (JObject(mv.aggs.toList.sortBy(_._1).map { case (c, (op, src)) =>
        c -> (JString(s"$op($src)"): JValue)
      }): JValue),
      "liveness" -> (mv.liveness.fold(JNull: JValue)(JString(_)): JValue),
      "distinctCap" -> (JInt(mv.distinctCap): JValue)))))
  }

  private val AggPat = """^(sum|count|min|max|hll|distinct)\((.+)\)$""".r

  private def parseDef(corpusDir: String, json: String): Option[MvDef] = {
    import org.json4s.JsonAST._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(json)).toOption.flatMap {
      case JObject(fields) =>
        val m = fields.toMap
        for {
          viewDir <- m.get("viewDir").collect { case JString(s) => s }
          keys <- m.get("keys").collect {
            case JArray(ks) => ks.collect { case JString(k) => k }
          }
          aggs <- m.get("aggs").collect {
            case JObject(as) => as.collect {
              case (c, JString(AggPat(op, src))) => c -> (op, src)
            }.toMap
          } if aggs.nonEmpty
        } yield MvDef(corpusDir, viewDir, keys, aggs,
          m.get("liveness").collect { case JString(l) => l },
          m.get("distinctCap").collect { case JInt(n) => n.toInt }
            .getOrElse(DefaultDistinctCap))
      case _ => None
    }
  }

  /** Write the registration onto the corpus table's props and register
    * it in this session. A `distinct` state column validates the CURRENT
    * corpus first — a group already holding more than `distinctCap`
    * values refuses the DDL (the ADD CONSTRAINT full-scan moment), so
    * the cap is a promise from declaration day one, never a query-time
    * surprise.
    */
  def persist(spark: SparkSession, mv: MvDef): Unit = {
    validateDistinctCap(spark, mv)
    LakeProps.set(spark, norm(mv.corpusDir), PropKey, renderDef(mv))
    register(mv)
    consulted.put(norm(mv.corpusDir), true): Unit
  }

  private def validateDistinctCap(spark: SparkSession, mv: MvDef): Unit = {
    import org.apache.spark.sql.functions._
    val srcs = mv.aggs.collect { case (c, ("distinct", s)) => c -> s }.toSeq
    if (srcs.isEmpty) return
    VersionedLake.currentVersion(spark, mv.corpusDir).foreach { _ =>
      val snap = VersionedLake.read(spark, mv.corpusDir)
      val aggs = srcs.map { case (c, s) => countDistinct(expr(s)).as(c) }
      val tops = srcs.map { case (c, _) => max(col(c)).as(c) }
      val maxes = snap.groupBy(mv.keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .agg(tops.head, tops.tail: _*)
        .head()
      srcs.zipWithIndex.foreach { case ((c, s), i) =>
        val mx = if (maxes.isNullAt(i)) 0L else maxes.getLong(i)
        require(mx <= mv.distinctCap,
          s"cannot declare distinct state '$c' = distinct($s): a group " +
            s"already holds $mx distinct values, above the declared cap " +
            s"${mv.distinctCap} - raise the cap or use the hll sketch state")
      }
    }
  }

  /** Alter a persisted MV in place, WITHOUT losing the view's sync
    * watermark — the recovery path when a group outgrows the declared
    * distinct cap (the alternative used to be drop_mv + recreate + a
    * full corpus re-sync). Two alterations, composable in one call:
    *
    *  - `newCap`: re-declare the distinct-state cap. Validated against
    *    the view's CURRENT merged per-group set sizes (O(view groups),
    *    never a corpus scan — the state already holds every value), so
    *    a lowering that the very next sync would fail refuses here, at
    *    the DDL moment, like the original create.
    *  - `dropCol`: evict one state column. The registration drops the
    *    entry first (readers and the rewrite only ever consult
    *    registered columns, so a stale physical column is harmless if
    *    the cleanup below dies), then the state table compacts to one
    *    merged frame WITHOUT the column — an O(groups)
    *    watermark-carrying replace ([[LakeView.compact]]) that also
    *    keeps future sync partials' schema aligned with the table.
    *
    * Returns the updated registration. The watermark never moves: both
    * edits are metadata + O(groups) state rewrites, so a fresh view
    * stays fresh and the rewrite keeps routing.
    */
  def alter(
      spark: SparkSession,
      corpusDir: String,
      newCap: Option[Int],
      dropCol: Option[String]): MvDef = {
    import org.apache.spark.sql.functions._
    val dir = norm(corpusDir)
    registerFromProps(spark, dir)
    val mv = forCorpus(dir).getOrElse(throw new IllegalArgumentException(
      s"no materialized view registered on $dir"))
    require(newCap.nonEmpty || dropCol.nonEmpty,
      "alter_mv: pass a new distinct_cap, a drop_state_col, or both")
    var cur = mv
    dropCol.foreach { c =>
      require(cur.aggs.contains(c),
        s"alter_mv: '$c' is not a state column of this view " +
          s"(has: ${cur.aggs.keys.toSeq.sorted.mkString(", ")})")
      require(cur.aggs.size > 1,
        "alter_mv: cannot evict the last state column - drop_mv instead")
      cur = cur.copy(aggs = cur.aggs - c)
    }
    newCap.foreach { cap =>
      require(cap >= 1, s"alter_mv: distinct_cap must be >= 1, got $cap")
      val distinctCols = cur.aggs.collect { case (c, ("distinct", _)) => c }.toSeq
      if (distinctCols.nonEmpty &&
          VersionedLake.currentVersion(spark, cur.viewDir).isDefined) {
        val st = LakeView.read(spark, cur.viewDir, cur.keys, cur.mergeSpec,
          liveness = None)
        val tops = distinctCols.map(c => max(size(col(c))).as(c))
        val maxes = st.agg(tops.head, tops.tail: _*).head()
        distinctCols.zipWithIndex.foreach { case (c, i) =>
          val mx = if (maxes.isNullAt(i)) 0 else maxes.getInt(i)
          require(mx <= cap,
            s"alter_mv: a group already holds $mx distinct values in '$c', " +
              s"above the requested cap $cap - raise the cap or evict the column")
        }
      }
      cur = cur.copy(distinctCap = cap)
    }
    LakeProps.set(spark, dir, PropKey, renderDef(cur))
    register(cur)
    consulted.put(dir, true): Unit
    // state cleanup AFTER the registration is durable: merge/rewrite only
    // consult registered columns, so a crash between the two leaves an
    // unreferenced physical column, not a broken view
    if (dropCol.nonEmpty &&
        VersionedLake.currentVersion(spark, cur.viewDir).isDefined) {
      LakeView.compact(spark, cur.viewDir, cur.keys, cur.mergeSpec): Unit
    }
    cur
  }

  /** Drop the registration here AND from the corpus props. */
  def dropPersisted(spark: SparkSession, corpusDir: String): Unit = {
    LakeProps.unset(spark, norm(corpusDir), PropKey)
    drop(corpusDir)
    consulted.put(norm(corpusDir), true): Unit
  }

  /** Re-register a persisted MvDef for this corpus, once per JVM —
    * called from table resolution, so it must stay O(1) after the first
    * consult. A malformed/absent prop just means no registration.
    */
  def registerFromProps(spark: SparkSession, corpusDir: String): Unit = {
    val dir = norm(corpusDir)
    if (consulted.putIfAbsent(dir, true).isEmpty && !registry.contains(dir)) {
      LakeProps.get(spark, dir).get(PropKey)
        .flatMap(parseDef(dir, _))
        .foreach(register)
    }
  }

  /** A view serves queries only while it reflects the corpus's CURRENT
    * version — both sides are memoized manifest reads, so the check is
    * metadata-only and safe to run per query plan.
    */
  def fresh(spark: SparkSession, mv: MvDef): Boolean = {
    val corpusV = VersionedLake.currentVersion(spark, mv.corpusDir)
    corpusV.nonEmpty && LakeView.watermark(spark, mv.viewDir) == corpusV
  }

  /** The view's answer AT THE CORPUS'S CURRENT VERSION, or None when it
    * cannot be given exactly:
    *
    *  - FRESH (watermark = current): the merged view state, as is.
    *  - STALE behind PURE APPENDS: the state plus a mechanical
    *    aggregation of just the tail directories — every commit in the
    *    window must be an append (op header absent or "append") AND
    *    strictly grow the directory set (a MoR delete leaves dirs
    *    intact while rows vanish; the per-step subset check alone would
    *    miss nothing only because those commits carry their op). Sync
    *    lag then never forces a fact-table scan: the query pays
    *    O(view groups + unsynced tail), the exactness of a fresh sync.
    *  - anything else (rewrite/optimize/metadata op in the window,
    *    corpus rolled back behind the watermark): None — the caller
    *    falls back to the corpus scan.
    *
    * All window checks are memoized manifest reads (metadata-only).
    */
  def readCombined(spark: SparkSession, mv: MvDef): Option[DataFrame] = {
    val corpusV = VersionedLake.currentVersion(spark, mv.corpusDir).getOrElse(return None)
    val wm = LakeView.watermark(spark, mv.viewDir).getOrElse(return None)
    if (wm == corpusV)
      return Some(LakeView.read(spark, mv.viewDir, mv.keys, mv.mergeSpec, mv.liveness))
    if (wm > corpusV) return None // corpus rolled back past the sync
    val appendOnly = ((wm + 1) to corpusV).forall { v =>
      // "analyze" is a stats-only commit: zero rows change, the directory
      // set is identical — it must not force the stale view off the
      // combine path (the subset check still guards it like any append)
      VersionedLake.commitOp(spark, mv.corpusDir, v)
        .forall(op => op == "append" || op == "analyze") &&
        VersionedLake.manifest(spark, mv.corpusDir, v - 1).toSet
          .subsetOf(VersionedLake.manifest(spark, mv.corpusDir, v).toSet)
    }
    if (!appendOnly) return None
    val prior = VersionedLake.manifest(spark, mv.corpusDir, wm).toSet
    val added = VersionedLake.manifest(spark, mv.corpusDir, corpusV).filterNot(prior)
    // liveness held back until AFTER the combine: a group cancelled in
    // state could revive in the tail
    val state = LakeView.read(spark, mv.viewDir, mv.keys, mv.mergeSpec, liveness = None)
    val combined =
      if (added.isEmpty) state
      else {
        val schema = VersionedLake.versionSchema(spark, mv.corpusDir, corpusV)
        val reader = spark.read.option("basePath", s"${mv.corpusDir}/data")
        val paths = added.map(d => s"${mv.corpusDir}/data/$d")
        val tail =
          schema.fold(reader.parquet(paths: _*))(s => reader.schema(s).parquet(paths: _*))
        graft.operators.ViewMaintenance.merge(
          Seq(state, mv.stateOver(tail)), mv.keys, mv.mergeSpec)
      }
    Some(mv.liveness.fold(combined)(c =>
      combined.filter(org.apache.spark.sql.functions.col(c) > 0)))
  }
}
