package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch: the mergeable
  * distinct-count state that completes [[ViewMaintenance]] — counts and
  * sums merge by summing, min/max by min/max, and COUNT(DISTINCT) by
  * keeping the k smallest distinct hash values.
  *
  * Properties that matter at 100 TB:
  *  - state is O(k) longs per group no matter how many rows/distincts;
  *    the shuffle carries sketches, never values (map-side partial agg
  *    like any built-in aggregate);
  *  - the k smallest distinct elements of a multiset are merge-ORDER
  *    INDEPENDENT, so unlike rank sketches the result is bit-identical
  *    across partitionings (spec-pinned) — safe to hash-compare;
  *  - below k distinct values the sketch degenerates to the exact
  *    distinct set, so the estimate IS the exact count — that is the
  *    oracle-checkable regime (`q_distinct_maintained` vs DuckDB
  *    `count(DISTINCT …)`); above k the classic (k−1)/u_k estimator
  *    kicks in (spec-bounded ±5% at k=4096).
  *
  * Two aggregator faces: [[KmvStateAgg]] emits the STATE (sorted hash
  * array) so views can persist and later re-merge it — the incremental
  * maintenance face; [[KmvMergeAgg]] folds persisted states back into a
  * count. Hash inputs with `xxhash64` ([[hashed]]) — 64-bit uniform,
  * deterministic, available at the scan inside codegen.
  */
object DistinctSketch {

  val DefaultK = 4096

  /** xxhash64 of any column, bias-flipped so SIGNED ascending order on
    * the stored value equals UNSIGNED order on the raw hash (keeps every
    * comparison a plain long compare).
    */
  def hashed(c: Column): Column =
    xxhash64(c).bitwiseXOR(lit(Long.MinValue))

  /** Sorted ascending, distinct, capped at k. `size < k` ⇒ this IS the
    * exact distinct (hashed) set.
    */
  final case class KmvBuf(var vs: Array[Long], var size: Int)

  private[graft] def emptyBuf(k: Int): KmvBuf = KmvBuf(new Array[Long](k), 0)

  private[graft] def insert(b: KmvBuf, v: Long, k: Int): Unit = {
    if (b.size == k && v >= b.vs(k - 1)) return
    val at = java.util.Arrays.binarySearch(b.vs, 0, b.size, v)
    if (at >= 0) return // already present
    val ins = -at - 1
    val newSize = math.min(b.size + 1, k)
    System.arraycopy(b.vs, ins, b.vs, ins + 1,
      newSize - ins - 1)
    b.vs(ins) = v
    b.size = newSize
  }

  private[graft] def mergeInto(a: KmvBuf, b: KmvBuf, k: Int): KmvBuf = {
    if (b.size == 0) return a
    if (a.size == 0) return b
    val out = new Array[Long](k)
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.size || j < b.size)) {
      val va = if (i < a.size) a.vs(i) else Long.MaxValue
      val vb = if (j < b.size) b.vs(j) else Long.MaxValue
      if (va == vb) { out(n) = va; i += 1; j += 1 }
      else if (va < vb) { out(n) = va; i += 1 }
      else { out(n) = vb; j += 1 }
      n += 1
    }
    a.vs = out
    a.size = n
    a
  }

  private[graft] def estimate(b: KmvBuf, k: Int): Long =
    if (b.size < k) b.size.toLong
    else {
      // u_k = the k-th smallest hash as a fraction of the 64-bit space;
      // (k-1)/u_k is the classic KMV estimator (unbiased for uniform u)
      val unsigned = b.vs(k - 1) ^ Long.MinValue // undo the order flip
      val u = (unsigned >>> 11).toDouble / (1L << 53).toDouble
      if (u <= 0.0) (k - 1).toLong // all k minima in the first 2^11 hashes
      else math.round((k - 1).toDouble / u)
    }

  /** The persistable STATE face: emits the sorted hash array so a
    * materialized view stores it next to its other aggregate state.
    */
  final class KmvStateAgg(k: Int = DefaultK)
      extends Aggregator[Long, KmvBuf, Seq[Long]] {
    override def zero: KmvBuf = emptyBuf(k)
    override def reduce(b: KmvBuf, v: Long): KmvBuf = { insert(b, v, k); b }
    override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = mergeInto(a, b, k)
    override def finish(b: KmvBuf): Seq[Long] =
      b.vs.take(b.size).toSeq
    override def bufferEncoder: Encoder[KmvBuf] = Encoders.kryo[KmvBuf]
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Fold persisted states (view + delta batches) back into a count —
    * the refresh step of an incrementally-maintained distinct view.
    */
  final class KmvMergeAgg(k: Int = DefaultK)
      extends Aggregator[Seq[Long], KmvBuf, Long] {
    override def zero: KmvBuf = emptyBuf(k)
    override def reduce(b: KmvBuf, state: Seq[Long]): KmvBuf = {
      val other = KmvBuf(state.toArray, state.size)
      mergeInto(b, other, k)
    }
    override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = mergeInto(a, b, k)
    override def finish(b: KmvBuf): Long = estimate(b, k)
    override def bufferEncoder: Encoder[KmvBuf] = Encoders.kryo[KmvBuf]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
