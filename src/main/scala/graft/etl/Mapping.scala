package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The rename-maps-as-data layer (`/root/reference/parser/xml.py:571-584`,
  * `extra/TableMap.csv`, `extra/FieldMap.csv`).
  *
  * TableMap: FFI catalog table → output DB table (unmapped tables are
  * silently not loaded — reference behavior). FieldMap: per output table,
  * output column → source column; rows with an empty source column exist
  * only in the target DB. Both are USER-SUPPLIED files (the reference user
  * already has them); tests carry a small fixture.
  */
final case class Mapping(
    tableMap: Map[String, String],           // FFITable -> NewTable
    fieldMap: Map[String, Seq[(String, String)]]) { // NewTable -> (ColumnName, OldColumn)

  /** P3: load-time projection+rename — keep only mapped columns present in
    * the frame, renamed old→new (`parser/xml.py:605-608,624`).
    */
  def project(newTable: String, df: DataFrame): DataFrame = {
    val pairs = fieldMap.getOrElse(newTable, Seq.empty)
    val cols = pairs.collect {
      case (newCol, oldCol)
          if oldCol.nonEmpty && oldCol != "nan" && df.columns.contains(oldCol) =>
        col(oldCol).as(newCol)
    }
    require(cols.nonEmpty, s"no mapped columns for $newTable in ${df.columns.mkString(",")}")
    df.select(cols: _*)
  }
}

object Mapping {

  /** S5: read the two CSVs (headered, whitespace-padded — trimmed like the
    * reference's `.strip()` lambdas) and collect to driver maps.
    */
  def fromCsv(spark: SparkSession, tableMapPath: String, fieldMapPath: String): Mapping = {
    val tm = spark.read.option("header", "true").csv(tableMapPath)
      .select(trim(col("FFITable")).as("f"), trim(col("NewTable")).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    val fm = spark.read.option("header", "true").csv(fieldMapPath)
      .select(
        trim(col("TableName")).as("t"),
        trim(col("ColumnName")).as("c"),
        trim(coalesce(col("OldColumn"), lit(""))).as("o"))
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2))))
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq).toMap
    Mapping(tm, fm)
  }
}
