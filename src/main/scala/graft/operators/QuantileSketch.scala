package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-KEY exact quantiles: one shuffle on the key, a per-key window
  * sort, rank-ceil(q·n) selection (DuckDB `quantile_disc` semantics,
  * identical to [[ExactQuantile]]). The right tool when keys are MANY and
  * per-key row counts modest (the per-user/per-document case): each key's
  * rows sort inside its shuffle partition, nothing is global, and hot keys
  * are bounded by per-key cardinality. This is the oracle-checked form
  * (`q_quantiles_by_key`, `q_robust_zscore`).
  */
object QuantileSketch {

  /** "p25" / "p97_5"-style column name for a quantile. */
  def colName(q: Double): String =
    "p" + BigDecimal(q * 100).bigDecimal.stripTrailingZeros.toPlainString
      .replace(".", "_").replace("-", "m")

  /** Exact per-key discrete quantiles via window rank selection: shuffle
    * on the key, sort inside the key, pick the value at rank ceil(q·n).
    * Viable whenever a single key's rows fit a shuffle partition — the
    * many-keys/modest-rows regime that complements
    * [[ExactQuantile.quantilesDiscByGroup]].
    */
  def quantilesByKeyExact(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      qs: Seq[Double]): DataFrame = {
    val byVal = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    val whole = Window.partitionBy(col(keyCol))
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol), col(valueCol))
      .withColumn("_rn", row_number().over(byVal))
      .withColumn("_n", count(lit(1)).over(whole))
    val aggs: Seq[Column] = qs.map { q =>
      // rank = ceil(q·n), robust to the FP product (round at 9 decimals
      // first — the same discipline as ExactQuantile.robustCeilRank)
      max(when(col("_rn") === ceil(round(col("_n") * q, 9)), col(valueCol)))
        .as(colName(q))
    }
    ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }
}
