package graft.etl

import org.apache.spark.sql.DataFrame

/** The engine's unit of state: a named-table catalog of dynamic-schema
  * DataFrames — the Spark re-expression of the reference's
  * `FFIFile._data_map` dict (`/root/reference/parser/xml.py:43,63-80`).
  *
  * Immutable: every transform stage returns a new catalog over lazy
  * plans. The frames those plans re-read (the extracted tables, the EAV
  * long frames, the enriched SampleEvent) are cached through [[pin]];
  * every catalog derived from one export shares its pins, so one
  * [[release]] at the end of the export drops them all.
  */
final case class FfiCatalog(
    tables: Map[String, DataFrame],
    pins: FfiCatalog.Pins = new FfiCatalog.Pins) {
  def apply(name: String): DataFrame =
    tables.getOrElse(name, throw new NoSuchElementException(s"$name not in FFI catalog"))
  def get(name: String): Option[DataFrame] = tables.get(name)
  def contains(name: String): Boolean = tables.contains(name)
  def updated(name: String, df: DataFrame): FfiCatalog =
    copy(tables = tables + (name -> df))
  def removed(names: String*): FfiCatalog =
    copy(tables = tables -- names)
  def names: Seq[String] = tables.keys.toSeq.sorted

  /** Cache `df` until [[release]]. */
  def pin(df: DataFrame): DataFrame = pins.add(df.cache())

  /** Drop every cache pinned by this catalog or any catalog derived from it. */
  def release(): Unit = pins.release()

  /** S11: dump every catalog table as headered CSV under `dir/<table>/`
    * (`/root/reference/parser/xml.py:758-765`). Distributed write — each
    * table lands as one-or-more part files, not a driver-side dump.
    */
  def toCsv(dir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.option("header", "true").mode("overwrite").csv(s"$dir/$name")
    }
}

object FfiCatalog {

  /** The cached frames one export's catalogs share. Release drops the
    * newest first, so no frame is uncached while a cached frame built on
    * it remains (Spark would re-plan that dependent's cache).
    */
  final class Pins {
    private var frames = List.empty[DataFrame]
    def add(df: DataFrame): DataFrame = synchronized { frames ::= df; df }
    def release(): Unit = synchronized { frames.foreach(_.unpersist()); frames = Nil }
  }

  /** FFI system tables parsed but never loaded
    * (`/root/reference/parser/xml.py:44-46,754-756`).
    */
  val Excluded: Set[String] = Set(
    "FuelConstants_DL", "FuelConstants_ExpDL", "FuelConstants_FWD",
    "FuelConstants_Veg", "FuelConstants_CWD", "Schema_Version", "Program",
    "Project", "DataGridViewSettings", "MasterSpecies_LastModified", "Settings")

  def empty: FfiCatalog = FfiCatalog(Map.empty)
}
