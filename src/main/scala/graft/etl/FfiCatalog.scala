package graft.etl

import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The engine's unit of state: a named-table catalog of dynamic-schema
  * DataFrames — the Spark re-expression of the reference's
  * `FFIFile._data_map` dict (`/root/reference/parser/xml.py:43,63-80`).
  *
  * Immutable: every transform stage returns a new catalog over lazy
  * plans. The extracted tables are local rows on the driver
  * ([[FfiExtract]]), and so is every intermediate that several plans of
  * one export read (MacroPlot and SampleEvent after their keep-first
  * windows, the enriched SampleEvent, the EAV method tables): each comes
  * from one collect ([[local]]). Catalyst folds the projections and
  * filters above a local table while optimizing (`ConvertToLocalRelation`),
  * so they start no job and compile no class, and nothing is cached: an
  * export's catalog holds no Spark state to release.
  *
  * Scale note: an export's intermediates are held on the driver like its
  * extracted rows, so one export must fit the driver heap; the 100 TB path
  * is many exports, one catalog each.
  */
final case class FfiCatalog(tables: Map[String, DataFrame]) {
  def apply(name: String): DataFrame =
    tables.getOrElse(name, throw new NoSuchElementException(s"$name not in FFI catalog"))
  def get(name: String): Option[DataFrame] = tables.get(name)
  def contains(name: String): Boolean = tables.contains(name)
  def updated(name: String, df: DataFrame): FfiCatalog =
    copy(tables = tables + (name -> df))
  def removed(names: String*): FfiCatalog =
    copy(tables = tables -- names)
  def names: Seq[String] = tables.keys.toSeq.sorted
}

object FfiCatalog {

  /** FFI system tables parsed but never loaded
    * (`/root/reference/parser/xml.py:44-46,754-756`).
    */
  val Excluded: Set[String] = Set(
    "FuelConstants_DL", "FuelConstants_ExpDL", "FuelConstants_FWD",
    "FuelConstants_Veg", "FuelConstants_CWD", "Schema_Version", "Program",
    "Project", "DataGridViewSettings", "MasterSpecies_LastModified", "Settings")

  def empty: FfiCatalog = FfiCatalog(Map.empty)

  /** `df` run once and held as a local table of its rows, same schema:
    * the plans that read it afterwards start from driver rows instead of
    * re-running `df`.
    */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
}
