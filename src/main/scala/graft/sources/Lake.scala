package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned data-lake table layout — the physical design that makes the
  * 100 TB math work. A table partitioned on a low-cardinality predicate
  * column (date, source, language) turns `WHERE dt = ...` into directory
  * pruning: the scan never opens non-matching files, so cost tracks the
  * queried slice, not the table.
  *
  * Two layout decisions both matter at scale:
  *
  *   1. '''Partition directories''' (`partitionBy`): coarse pruning via
  *      `PartitionFilters` — zero I/O for excluded partitions.
  *   2. '''In-file clustering''' (`sortWithinPartitions` before write):
  *      parquet row-group min/max stats on the sort column become
  *      effective zone maps, so selective predicates inside a partition
  *      skip row groups too (`PushedFilters` + rowgroup stats).
  *
  * The repartition-on-partition-columns before write is the small-file
  * compaction step: without it every upstream task writes a file into
  * every partition directory (tasks × partitions files — the classic
  * small-file explosion); with it each partition directory gets exactly
  * one writer task, and `maxRecordsPerFile` re-splits only genuinely
  * oversized partitions.
  *
  * Mirrors the reference's one-directory-per-run archive layout
  * (`/root/reference/xml_to_rdb.py:35-52`) re-expressed as a columnar
  * lake table instead of a processed-files folder.
  */
object Lake {

  /** Write `df` as a partitioned parquet table with one compacted file per
    * partition directory (capped by `maxRecordsPerFile`), clustered within
    * files on `clusterBy` for row-group stat pruning. `zorderBy` (mutually
    * exclusive with `clusterBy`) clusters on a MULTI-dimensional Z-order
    * key instead — see [[withZorderKey]]: every listed column gets
    * narrow row-group min/max ranges, so selective predicates on the
    * second (or third) column prune row groups too, where lexicographic
    * clustering serves only its leading column.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      parts: Seq[String],
      clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000,
      zorderBy: Seq[String] = Nil): Unit =
    write(df, path, parts, clusterBy, maxRecordsPerFile, zorderBy)

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

  private def write(
      df: DataFrame,
      path: String,
      parts: Seq[String],
      clusterBy: Seq[String],
      maxRecordsPerFile: Long,
      zorderBy: Seq[String] = Nil): Unit = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are mutually exclusive")
    val keyed = if (zorderBy.isEmpty) df else withZorderKey(df, zorderBy)
    val one = keyed.repartition(parts.map(col): _*)
    val sortCols =
      if (zorderBy.nonEmpty) parts.map(col) :+ col(ZKey)
      else if (clusterBy.nonEmpty) (parts ++ clusterBy).map(col)
      else Nil
    val clustered = if (sortCols.isEmpty) one else one.sortWithinPartitions(sortCols: _*)
    clustered.drop(ZKey).write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(parts: _*)
      .parquet(path)
  }

  /** Read a lake table back; partition columns come from directory names,
    * so predicates on them prune at planning time (assert via
    * `PartitionFilters` in the plan / `df.inputFiles`).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Copy-on-write upsert (Delta/Hudi-style MERGE for a plain parquet
    * lake): rows in `updates` replace same-`keys` rows, others append —
    * and ONLY partitions that receive updates are read or rewritten.
    *
    * The scale math: cost is O(touched partitions), not O(table). The
    * existing side is pruned to touched partitions with a broadcast semi
    * join on the partition columns (directory pruning — at 100 TB with
    * daily partitions, an update slice touching 3 days reads 3 days); the
    * survivor set (existing rows whose key is NOT updated) comes from a
    * per-partition anti join; the rewrite uses dynamic partition
    * overwrite, so untouched directories are never listed, read, or
    * replaced.
    *
    * The merged slice is materialized (localCheckpoint) before the write
    * because the write overwrites directories the plan reads from — the
    * no-snapshot-isolation reality of a bare-parquet lake. A table format
    * with a transaction log removes that materialization; the
    * partition-pruned MERGE shape is identical.
    *
    * CONTRACT (the Hudi-style immutable-partition-path rule): a key's
    * partition values must never change between versions — i.e. `parts`
    * must be functionally determined by `keys` (or by immutable
    * attributes of the row). The survivor anti-join runs only inside
    * TOUCHED partitions, so an update row whose key currently lives in a
    * DIFFERENT (untouched) partition would leave the old row in place
    * and insert the new one — a duplicate key across partitions. That is
    * exactly the trade that makes cost O(touched partitions) instead of
    * O(table); engines that allow partition-changing upserts (Delta
    * MERGE) pay a full-table join for it. Callers who need a key to move
    * partitions must delete + insert explicitly.
    */
  def upsertPartitioned(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      parts: Seq[String],
      keys: Seq[String],
      clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 8L * 1000 * 1000): Unit = {
    val touched = updates.select(parts.map(col): _*).distinct()
    val affected = read(spark, path)
      .join(broadcast(touched), parts, "left_semi")
    val survivors = affected.join(updates.select(keys.map(col): _*), keys, "left_anti")
    val merged = survivors.unionByName(updates).localCheckpoint()

    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    try write(merged, path, parts, clusterBy, maxRecordsPerFile)
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
