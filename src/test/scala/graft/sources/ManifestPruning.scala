package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.sources.Filter

/** Spec access to the one manifest pruner, [[VersionedLake.pruneDirsForFilters]],
  * at a table's current version: the directories a catalog scan with
  * these pushed filters plans, and the rows a scan of only those
  * directories returns (merge-on-read deletes applied, then the exact
  * predicate, as the scan does).
  */
object ManifestPruning {

  def kept(spark: SparkSession, dir: String, filters: Filter*): Seq[String] =
    VersionedLake.pruneDirsForFilters(spark, dir,
      VersionedLake.currentVersion(spark, dir).get, filters)

  /** Rows of the kept directories matching `cond`, which must state the
    * same predicate as `filters`. Requires at least one kept directory.
    */
  def read(spark: SparkSession, dir: String, cond: Column, filters: Filter*): DataFrame = {
    val v = VersionedLake.currentVersion(spark, dir).get
    val keep = VersionedLake.pruneDirsForFilters(spark, dir, v, filters)
    require(keep.nonEmpty, s"every directory of $dir was pruned")
    VersionedLake.readDirsWithDeletes(spark, dir, v, keep,
      VersionedLake.versionSchema(spark, dir, v)).filter(cond)
  }
}
