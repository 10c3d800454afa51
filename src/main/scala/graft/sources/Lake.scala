package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order clustering key for the lake's data directories. Sorting a
  * directory's files on the key ([[VersionedLake.optimize]] with
  * `zorderBy`) gives every listed column narrow parquet row-group
  * min/max ranges, so selective predicates on the second (or third)
  * column skip row groups too, where lexicographic clustering
  * (`sortWithin`) serves only its leading column.
  */
object Lake {

  /** Internal clustering-key column name; never written to the table. */
  private[sources] val ZKey = "_graft_zkey"

  /** Number of quantile buckets per Z-order dimension (8 bits). */
  private val ZBuckets = 256

  /** Append a Z-order clustering key over 2–4 numeric columns.
    *
    * Each column is rank-bucketed into 256 quantile buckets (boundaries
    * from one `percentile_approx` aggregate — rank-based, so skewed
    * columns still spread evenly across buckets, where min/max linear
    * scaling would collapse the hot range into one bucket), then the
    * 8-bit bucket ids bit-interleave into the Z-curve key. Bucketing and
    * interleaving are pure native expressions (a compare-count ladder +
    * shift/or tree — codegen'd, no UDF); the only extra job is the tiny
    * boundary aggregate. Sorting by the key gives every dimension
    * locality ~bucket⁻¹·√(files)⁻¹ instead of only the leading one.
    */
  private[sources] def withZorderKey(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zorderBy wants 2-4 columns, got ${cols.size}")
    val qs = (1 until ZBuckets).map(_.toDouble / ZBuckets)
    val boundRow = df.select(
      cols.map(c =>
        percentile_approx(col(c).cast("double"), lit(qs.toArray), lit(10000))
          .as(c)): _*).head()
    val keyCol = cols.zipWithIndex.map { case (c, i) =>
      val bounds = boundRow.getSeq[Double](i)
      // bucket id = #boundaries below v: a flat sum of comparisons stays
      // inside whole-stage codegen at any ladder width
      val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(c).cast("double") > lit(b), 1).otherwise(0)
      }
      // bit j of dimension i lands at interleaved position j*dims + i
      (0 until 8).map { j =>
        shiftleft(shiftright(bucket, j).bitwiseAND(lit(1)), j * cols.size + i)
          .cast("long")
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
    df.withColumn(ZKey, keyCol)
  }
}
