package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter keys — the manual salting pattern
  * for aggregation skew, which AQE's runtime skew-join split does not
  * cover.
  *
  * [[saltedAgg]] is a two-phase aggregation. Phase 1 groups on
  * (key, salt) so one hot key spreads over `salts` reducers; phase 2
  * merges the per-salt partials. Correct for any algebraic aggregate
  * expressed as (partial, merge) pairs — here counts and sums, the
  * building blocks the reference's audit/count operators need. At
  * 100 TB this turns the worst-case reducer from O(hottest key) to
  * O(hottest key / salts).
  */
object Skew {

  /** deterministic pseudo-random salt in [0, salts) — seeded off the whole
    * row via a monotonic id so re-runs of the same partition layout salt
    * identically (no RNG state on executors).
    */
  private def saltCol(salts: Int): Column =
    pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong)).cast("int")

  /** Two-phase count+sum aggregation over a skewed grouping key. Output:
    * key columns ++ (n, total).
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      sumCol: String,
      salts: Int = 16): DataFrame = {
    val phase1 = df
      .withColumn("_salt", saltCol(salts))
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_n"), sum(sumCol).as("_s"))
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum("_n").as("n"), sum("_s").as("total"))
  }
}
