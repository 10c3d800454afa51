package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for distributive aggregates:
  * instead of rescanning the base table when a delta batch lands, merge
  * the view's per-group STATE with the delta's — `O(groups + delta)`
  * work against `O(table)` for a recompute. At 100 TB with daily
  * increments this is the difference between a view refresh that reads
  * 100 TB and one that reads the day.
  *
  * The state columns must be MERGEABLE aggregates: counts and sums merge
  * by summing, min/max by min/max. Algebraic aggregates (avg, stddev)
  * are maintained by storing their distributive parts (sum + count; sum
  * + sum-of-squares + count) and deriving the value at read time — the
  * same decomposition Spark itself uses for partial aggregation, applied
  * across BATCHES instead of partitions. Holistic aggregates (exact
  * median/distinct) don't merge; a distinct count keeps the KMV sketch
  * state of [[DistinctSketch]] instead.
  */
object ViewMaintenance {

  /** Merge pre-aggregated view frames (all sharing `keys` + state
    * columns) into one consistent view. `state` maps each state column
    * to its merge op: "sum" (also for counts), "min", or "max". Plan
    * shape: one union + one groupBy over O(groups) rows per frame —
    * partial-aggregated map-side like any Spark agg, and the exchange
    * carries view-sized frames, never table-sized ones.
    */
  def merge(
      views: Seq[DataFrame],
      keys: Seq[String],
      state: Seq[(String, String)]): DataFrame = {
    require(views.nonEmpty, "merge needs at least one view frame")
    require(state.nonEmpty, "merge needs at least one state column")
    val aggs: Seq[Column] = state.map {
      case (c, "sum") => sum(col(c)).as(c)
      case (c, "min") => min(col(c)).as(c)
      case (c, "max") => max(col(c)).as(c)
      // DataSketches HLL union: register-wise max, associative — the
      // merged sketch is bit-identical to a one-pass sketch, which is
      // what lets an hll state answer sketch-estimate queries exactly
      case (c, "hll") => hll_union_agg(col(c)).as(c)
      // exact-distinct value sets: set union (sorted for determinism) —
      // bounded by the MV's declared cap per partial, asserted at
      // maintenance time (LakeMv.stateOverGuarded), never here
      case (c, "distinct") =>
        array_sort(array_distinct(flatten(collect_list(col(c))))).as(c)
      case (c, op) =>
        throw new IllegalArgumentException(
          s"column $c: op $op is not mergeable (use sum/min/max/hll/distinct; " +
            "decompose algebraic aggregates into distributive state)")
    }
    views.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Delta-join maintenance of a fact ⋈ dim aggregate view: the refresh
    * aggregates ONLY the fact delta joined to the dimension and merges
    * that into the prior state — `agg(Δfact ⋈ dim)` folded into the view
    * by [[merge]]. The base fact table never appears in the refresh
    * plan: per commit this reads O(delta + dim + groups), where a
    * recompute reads the fact table (the 100 TB difference for a daily
    * rollup over an append-only fact stream).
    *
    * `aggs` are the aliased aggregate expressions that produce the state
    * columns from the joined delta (the SAME expressions that built the
    * prior state), `state` their merge ops as in [[merge]]. Dims are
    * usually broadcast-sized — pass `broadcast(dim)` and the delta join
    * is map-side, making the whole refresh shuffle only O(groups) state
    * rows.
    *
    * Scope: fact-insert deltas against a STATIC dim — the append-only
    * fact / slowly-changing dim shape. A dim delta needs the symmetric
    * term (`fact ⋈ Δdim`, which must rescan or index the base fact) plus
    * retraction of re-attributed groups; that is a view REBUILD here,
    * not an incremental refresh, and callers get it by recomputing state
    * over the new dim snapshot.
    */
  def joinDelta(
      priorState: DataFrame,
      factDelta: DataFrame,
      dim: DataFrame,
      joinKeys: Seq[String],
      groupKeys: Seq[String],
      aggs: Seq[Column],
      state: Seq[(String, String)]): DataFrame = {
    require(aggs.nonEmpty, "joinDelta needs at least one aggregate")
    val deltaState = factDelta
      .join(dim, joinKeys)
      .groupBy(groupKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    merge(Seq(priorState, deltaState), groupKeys, state)
  }

  // ------------------------------------------------------------------
  // RETRACTIONS (the z-set pattern): a delta whose rows carry a sign
  // (+1 insert, −1 delete) maintains sum-merged state through
  // [[merge]]/[[joinDelta]] with NO new machinery — aggregate the delta
  // as `sum(sign)` for counts and `sum(sign * x)` for sums, and the
  // signed partial states cancel against the base. This covers
  // count/sum/avg-decomposed state exactly; plain min/max state cannot
  // retract (deleting the current extremum needs the runner-up) — for
  // those, [[retractTopK]]/[[repairExtremum]] below maintain a bounded
  // top-k buffer per group that repairs extremum deletions from state
  // and flags exactly the groups that genuinely need a base recompute.
  // `q_view_retract_maintained` (sums) and `q_view_extremum_retract`
  // (max) demonstrate both patterns oracle-checked.
  //
  // Retractable extremum: bounded top-k state per group (the Flink
  // retract-max recipe). Plain min/max state cannot survive a delete of
  // the current extremum — the runner-up is gone. Keeping the k largest
  // live values per group repairs up to k-1 extremum deletions from
  // state alone; a FENCE value tracks the largest value ever dropped
  // from the bounded buffer, so the state knows exactly when it can no
  // longer prove its head is the true maximum and flags that group for
  // rebuild instead of answering wrong. Rebuilds touch only the flagged
  // groups (spec-pinned), everything else refreshes O(delta + groups).
  // ------------------------------------------------------------------

  /** Per-group top-k extremum state over `valueCol` (descending → max
    * maintenance; flip the input's sign for min). Output:
    * `keys..., topk array (desc), cnt, fence, needs_rebuild`.
    *
    * Soundness invariant: every value ever dropped from the buffer
    * (truncation beyond k, or a net-negative out-of-buffer delete) is
    * <= `fence` at the time it was dropped; therefore whenever
    * `topk[0] >= fence` the head IS the true group max. `needs_rebuild`
    * is the exact complement: the group is non-empty and either the
    * buffer emptied or its head fell below the fence — only then does
    * the true max possibly live among dropped values.
    */
  def rebuildTopK(
      base: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(col(valueCol).desc)
    // rank and group-count share one partitioning -> one shuffle, one pass
    base
      .filter(col(valueCol).isNotNull)
      .withColumn("_rk", row_number().over(w))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(kc: _*)))
      .filter(col("_rk") <= k + 1)
      .groupBy(kc: _*)
      .agg(
        sort_array(collect_list(when(col("_rk") <= k, col(valueCol))), asc = false)
          .as("topk"),
        first(col("_cnt")).as("cnt"),
        // the k+1-th value bounds everything truncated away
        max(when(col("_rk") === k + 1, col(valueCol))).as("fence"))
      .withColumn("needs_rebuild", lit(false))
      .select((kc :+ col("topk") :+ col("cnt") :+ col("fence") :+
        col("needs_rebuild")): _*)
  }

  /** Fold a SIGNED delta (`sign` = +1 insert / -1 delete, deletes must
    * reference live base rows — multiset semantics) into
    * [[rebuildTopK]]-shaped state. One union + one keyed agg + one
    * window over O(state + delta) rows — never the base table. Groups
    * whose answer is no longer provable from the bounded buffer come
    * back flagged `needs_rebuild`; [[repairExtremum]] composes the
    * state-path answer with base-side repair for exactly those.
    */
  def retractTopK(
      priorState: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      valueCol: String,
      signCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    // multiset of live buffer members after the delta: +1 per buffered
    // copy, signed delta weights, net > 0 survives with multiplicity
    val stateRows = priorState.select((kc :+ explode(col("topk")).as("_v")): _*)
      .withColumn("_w", lit(1L))
    val deltaRows = delta
      .filter(col(valueCol).isNotNull)
      .select((kc :+ col(valueCol).as("_v") :+ col(signCol).cast("long").as("_w")): _*)
    val net = stateRows.unionByName(deltaRows)
      .groupBy((kc :+ col("_v")): _*)
      .agg(sum("_w").as("_w"))
      .filter(col("_w") > 0)
      // restore multiplicity, bounded by k + delta inserts of that value
      .withColumn("_i", explode(sequence(lit(1L), col("_w"))))
    val w = Window.partitionBy(kc: _*).orderBy(col("_v").desc, col("_i"))
    val ranked = net
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k + 1)
      .groupBy(kc: _*)
      .agg(
        sort_array(collect_list(when(col("_rk") <= k, col("_v"))), asc = false)
          .as("_topk_new"),
        // anything truncated beyond k was dropped: raise the fence to it
        max(when(col("_rk") === k + 1, col("_v"))).as("_dropped"))
    val deltaCnt = delta.filter(col(valueCol).isNotNull)
      .groupBy(kc: _*).agg(sum(col(signCol).cast("long")).as("_dcnt"))
    priorState
      .join(deltaCnt, keys, "full_outer")
      .join(ranked, keys, "full_outer")
      .select((kc ++ Seq(
        // a group absent from `ranked` has an EMPTY live buffer (healthy
        // untouched groups always re-rank via their exploded state rows) —
        // falling back to the prior topk here would resurrect deleted rows
        coalesce(col("_topk_new"),
          array().cast(s"array<${delta.schema(valueCol).dataType.sql}>")).as("topk"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("_dcnt"), lit(0L))).as("cnt"),
        greatest(col("fence"), col("_dropped")).as("fence"))): _*)
      .withColumn(
        "needs_rebuild",
        col("cnt") > 0 && (size(col("topk")) === 0 ||
          (col("fence").isNotNull && element_at(col("topk"), 1) < col("fence"))))
      .filter(col("cnt") > 0)
  }

  /** The maintained MAX per group: state-path heads where provable,
    * base-side recompute for exactly the `needs_rebuild` groups (the
    * repair is a semi-join-pruned scan — flagged groups only, never the
    * full base).
    */
  def repairExtremum(
      state: DataFrame,
      liveBase: DataFrame,
      keys: Seq[String],
      valueCol: String,
      outCol: String): DataFrame = {
    val kc = keys.map(col)
    val good = state
      .filter(!col("needs_rebuild"))
      .select((kc :+ element_at(col("topk"), 1).as(outCol)): _*)
    val broken = state.filter(col("needs_rebuild")).select(kc: _*)
    val repaired = liveBase
      .join(broken, keys, "left_semi")
      .groupBy(kc: _*)
      .agg(max(col(valueCol)).as(outCol))
    good.unionByName(repaired)
  }
}
