package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact discrete quantiles of a numeric column with NO global sort and
  * NO driver-side value collection proportional to n — the "exact median
  * of 100 TB" operator.
  *
  * Spark's own exact `percentile` aggregate buffers every distinct value
  * per group in memory (fine for small groups, fatal for a whole-table
  * quantile at scale); `approx_percentile` is approximate. This operator
  * instead runs histogram bisection:
  *
  *   1. one pass: (count, min, max);
  *   2. repeated passes: a B-bin equal-width histogram over the current
  *      [lo, hi] (a groupBy on a computed bin index — B rows out), after
  *      which the driver locates the bin containing the target rank and
  *      narrows to it;
  *   3. once the candidate bin holds few enough rows, one final filtered
  *      pass collects just that bin and picks the rank-th element.
  *
  * Each pass is a full-parallel scan with a B-row result; convergence is
  * geometric (factor B per round), so a 100 TB column takes ~3 histogram
  * rounds at B=4096. Rank semantics match DuckDB `quantile_disc`:
  * k = ceil(q·n), 1-indexed over the sorted column.
  */
object ExactQuantile {

  private val Bins = 4096

  /** Exact q-th discrete quantile of `df`'s `valueCol` (nulls ignored).
    * `collectAt` is the final-pass collect threshold in rows — bins are
    * bisected until the candidate bin is at most this big (tests shrink it
    * to force multi-round narrowing).
    */
  def quantileDisc(
      df: DataFrame,
      valueCol: String,
      q: Double,
      collectAt: Long = 65536L): Double = {
    val CollectAt = collectAt
    require(q > 0.0 && q <= 1.0, s"q must be in (0, 1], got $q")
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val head = vals.agg(
      count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi")).head()
    val n = head.getLong(0)
    require(n > 0, s"no non-null values in $valueCol")
    var lo = head.getDouble(1)
    var hi = head.getDouble(2)
    // ceil(q*n) robust to the FP product landing just above an exact integer
    var k = robustCeilRank(q, n)
    var remaining = n
    var widthOk = true
    while (lo < hi && remaining > CollectAt && widthOk) {
      val width = (hi - lo) / Bins
      // bin index clamped so v == hi lands in the last bin
      if (width == 0.0) { widthOk = false }
      else {
      val binned = vals
        .filter(col("v") >= lo && col("v") <= hi)
        .groupBy(least(floor((col("v") - lo) / width), lit(Bins - 1L)).as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      // guarded walk: if FP re-evaluation of the range predicate dropped
      // rows that the previous round counted (bin-boundary recomputation
      // is not exactly floor-consistent), fail with the bisection state
      // instead of an index error with no context.
      if (binned.isEmpty)
        sys.error(s"quantile bisection: no rows matched [$lo, $hi] for $valueCol (k=$k)")
      var acc = 0L
      var idx = 0
      while (idx < binned.length && acc + binned(idx)._2 < k) {
        acc += binned(idx)._2; idx += 1
      }
      if (idx >= binned.length)
        sys.error(
          s"quantile bisection: rank $k beyond ${acc} binned rows in [$lo, $hi] for $valueCol")
      val (b, c) = binned(idx)
      k -= acc
      remaining = c
      lo = lo + b * width
      hi = if (b == Bins - 1L) hi else lo + width
      }
    }
    if (lo == hi) lo
    else {
      val tail = vals.filter(col("v") >= lo && col("v") <= hi)
        .collect().map(_.getDouble(0)).sorted
      if (tail.isEmpty || k > tail.length)
        sys.error(
          s"quantile bisection: rank $k not in ${tail.length} tail rows of [$lo, $hi] for $valueCol")
      tail(k.toInt - 1)
    }
  }

  /** ceil(q·n), robust to the FP product landing a hair above an exactly
    * integral value (the ADVICE-r3 prefix-length discipline).
    */
  private def robustCeilRank(q: Double, n: Long): Long =
    math.ceil(
      (BigDecimal(q) * BigDecimal(n))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong.max(1L)

  /** Per-GROUP exact discrete quantiles, ALL groups and ALL requested
    * quantiles bisected simultaneously: each round is ONE job — rows join
    * the (broadcast) per-(group, q) [lo, hi] state (a row fans out only
    * to its group's still-active quantiles), bin into per-(group, q)
    * histograms, and the driver narrows every active pair from the
    * (pairs × B)-row result. Same rank semantics as [[quantileDisc]]
    * (ceil(q·n), 1-indexed); the head (count, min, max) pass and the
    * cached 2-column projection are shared across every quantile.
    *
    * This is the scale path q_winsorize's window formulation stands in
    * for: no per-group sort, no per-group value buffer — driver state is
    * O(groups × qs × B) per round, and the tail collect is bounded PER
    * ROUND, not per pair: finishing pairs are chunked greedily under a
    * `tailBudget`-row budget (always at least one pair, so progress is
    * guaranteed) and the overflow defers to later rounds — many pairs
    * finishing simultaneously can never flood the driver with
    * O(pairs × collectAt) rows in one action. Suited to group counts up
    * to the thousands (dashboards, statuses, languages); per-KEY
    * quantiles at millions of groups want [[QuantileSketch]]'s exact
    * window-rank selection.
    */
  def quantilesDiscByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[Double],
      collectAt: Long = 65536L,
      tailBudget: Long = 1048576L): Map[(String, Double), Double] = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"each q must be in (0, 1], got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df
      .select(col(groupCol).cast("string").as("g"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .cache()

    final case class St(lo: Double, hi: Double, k: Long, remaining: Long)
    var state: Map[(String, Double), St] = vals
      .groupBy("g")
      .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .collect()
      .flatMap { r =>
        val n = r.getLong(1)
        qs.map { q =>
          (r.getString(0), q) -> St(r.getDouble(2), r.getDouble(3), robustCeilRank(q, n), n)
        }
      }
      .toMap
    val done = scala.collection.mutable.Map.empty[(String, Double), Double]
    lastMaxTailCollect = 0L
    var rounds = 0
    while (state.nonEmpty && rounds < 256) {
      // settle pairs that converged or are small enough for the tail pass
      val (finish, continue) = state.partition { case (_, s) =>
        s.lo == s.hi || s.remaining <= collectAt || (s.hi - s.lo) / Bins == 0.0
      }
      val (trivial, tailsAll) = finish.partition { case (_, s) => s.lo == s.hi }
      trivial.foreach { case (gq, s) => done(gq) = s.lo }
      // chunk the finishing set: greedily take pairs while the summed
      // remaining-row estimate (exact bin counts from the last histogram
      // round) fits tailBudget — always at least one pair — and DEFER the
      // rest, so one round's collect is O(tailBudget), never O(pairs ×
      // collectAt).
      var budget = tailBudget
      val (tails, deferred) = {
        val ordered = tailsAll.toSeq.sortBy { case (_, s) => s.remaining }
        val take = scala.collection.mutable.ArrayBuffer.empty[((String, Double), St)]
        val defer = scala.collection.mutable.ArrayBuffer.empty[((String, Double), St)]
        ordered.foreach { case e @ (_, s) =>
          if (take.isEmpty || s.remaining <= budget) { take += e; budget -= s.remaining }
          else defer += e
        }
        (take.toMap, defer.toMap)
      }
      if (tails.nonEmpty) {
        // ONE batched tail pass for this round's chunk of finishing pairs
        val b = tails.toSeq.map { case ((g, q), s) => (g, q, s.lo, s.hi) }
          .toDF("g", "q", "lo", "hi")
        val collected = vals
          .join(broadcast(b), "g")
          .filter(col("v") >= col("lo") && col("v") <= col("hi"))
          .select("g", "q", "v")
          .collect()
          .map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2)))
          .groupBy(_._1)
        lastMaxTailCollect = math.max(lastMaxTailCollect, collected.valuesIterator.map(_.length.toLong).sum)
        tails.foreach { case (gq @ (g, q), s) =>
          val sorted = collected.getOrElse(gq,
            sys.error(s"quantile bisection: no rows matched group=$g q=$q " +
              s"in [${s.lo}, ${s.hi}] at the tail pass")).map(_._2).sorted
          if (s.k > sorted.length)
            sys.error(s"quantile bisection: rank ${s.k} not in ${sorted.length} " +
              s"tail rows for group=$g q=$q in [${s.lo}, ${s.hi}]")
          done(gq) = sorted(s.k.toInt - 1)
        }
      }
      if (continue.nonEmpty) {
        val bounds = continue.toSeq
          .map { case ((g, q), s) => (g, q, s.lo, s.hi, (s.hi - s.lo) / Bins) }
          .toDF("g", "q", "lo", "hi", "w")
        val hist = vals
          .join(broadcast(bounds), "g")
          .filter(col("v") >= col("lo") && col("v") <= col("hi"))
          .groupBy(col("g"), col("q"),
            least(floor((col("v") - col("lo")) / col("w")), lit(Bins - 1L)).as("b"))
          .agg(count(lit(1)).as("c"))
          .collect()
          .map(r => ((r.getString(0), r.getDouble(1)), r.getLong(2), r.getLong(3)))
          .groupBy(_._1)
        state = continue.map { case (gq @ (g, q), s) =>
          val binned = hist.getOrElse(gq,
            sys.error(s"quantile bisection: no rows matched group=$g q=$q " +
              s"in [${s.lo}, ${s.hi}] at the histogram pass"))
            .map(t => (t._2, t._3)).sortBy(_._1)
          val width = (s.hi - s.lo) / Bins
          var acc = 0L
          var idx = 0
          while (idx < binned.length && acc + binned(idx)._2 < s.k) {
            acc += binned(idx)._2; idx += 1
          }
          if (idx >= binned.length)
            sys.error(s"quantile bisection: rank ${s.k} beyond $acc binned rows " +
              s"for group=$g q=$q in [${s.lo}, ${s.hi}]")
          val (b, c) = binned(idx)
          val lo = s.lo + b * width
          val hi = if (b == Bins - 1L) s.hi else lo + width
          gq -> St(lo, hi, s.k - acc, c)
        } ++ deferred
      } else state = deferred
      rounds += 1
    }
    vals.unpersist(blocking = false)
    require(state.isEmpty, s"quantile bisection did not converge for ${state.keys}")
    done.toMap
  }

  /** Largest single-round tail-pass row count of the most recent
    * [[quantilesDiscByGroup]] run — test-visible evidence that the
    * chunked tail collect respects its budget.
    */
  @volatile private[operators] var lastMaxTailCollect: Long = 0L
}
