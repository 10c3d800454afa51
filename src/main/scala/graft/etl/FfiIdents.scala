package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PlotID / EventID derivation — `_parse_idents`
  * (`/root/reference/parser/xml.py:126-195`).
  *
  * The reference computes both ids with O(n·m) row-loop lookups; here they
  * are hash joins + Catalyst expressions (SURVEY.md J6/J7, F2–F4). The
  * join, the row filters and the keep-first are driver operators over
  * local tables ([[FfiCatalog.leftJoin]], [[FfiCatalog.filter]],
  * [[FfiCatalog.keepFirst]]) and the id derivations fold into them while
  * optimizing, so idents runs no Spark job and compiles no class;
  * MacroPlot and SampleEvent stay local tables for the EAV assembly, the
  * event enrichment and the load.
  */
object FfiIdents {

  /** strip ' ', '_', '-', '.' then uppercase (`parser/xml.py:158-159`). */
  def cleanName(c: Column): Column = upper(translate(c, " _-.", ""))

  /** MacroPlot + PlotID: first-5 of cleaned admin-unit name ++ cleaned plot
    * name; then rows without MacroPlot_DateIn drop and the EARLIEST record
    * per PlotID wins (keep-first dedup, `parser/xml.py:187-188`).
    */
  def withPlotId(cat: FfiCatalog): FfiCatalog = {
    val admin = cat("RegistrationUnit")
      .select(
        col("RegistrationUnit_GUID").as("_ru_guid"),
        cleanName(col("RegistrationUnit_Name")).as("_ru_clean"))
    val planted = FfiCatalog.filter(
      FfiCatalog
        .leftJoin(cat("MacroPlot"), (admin, "MacroPlot_RegistrationUnit_GUID", "_ru_guid"))
        .withColumn(
          "PlotID",
          concat(substring(col("_ru_clean"), 1, 5), cleanName(col("MacroPlot_Name"))))
        .drop("_ru_guid", "_ru_clean"),
      col("MacroPlot_DateIn").isNotNull)
    cat.updated("MacroPlot", FfiCatalog.keepFirst(planted, Seq("PlotID"), col("MacroPlot_DateIn")))
  }

  /** SampleEvent + EventID: PlotID looked up via the plot GUID ('' when the
    * plot is absent), concatenated with the yyyyMMdd of the first
    * `\d{4}-\d{2}-\d{2}` in SampleEvent_Date; empty/null EventIDs drop and
    * the first record per EventID (ingest order) wins
    * (`parser/xml.py:162-177,190-193`).
    */
  def withEventId(cat: FfiCatalog): FfiCatalog = {
    val plots = cat("MacroPlot").select(
      col("MacroPlot_GUID").as("_mp_guid"),
      col("PlotID").as("_mp_plot_id"))
    val dateDigits =
      regexp_replace(
        regexp_extract(col("SampleEvent_Date"), "(\\d{4}-\\d{2}-\\d{2})", 1),
        "-", "")
    val evented = FfiCatalog.filter(
      FfiCatalog
        .leftJoin(cat("SampleEvent"), (plots, "SampleEvent_Plot_GUID", "_mp_guid"))
        .withColumn(
          "EventID",
          when(
            coalesce(col("_mp_plot_id"), lit("")) =!= "" && dateDigits =!= "",
            concat(col("_mp_plot_id"), dateDigits))
            .otherwise(lit("")))
        .drop("_mp_guid", "_mp_plot_id"),
      col("EventID").isNotNull && col("EventID") =!= "")
    cat.updated("SampleEvent", FfiCatalog.keepFirst(evented, Seq("EventID")))
  }

  def apply(cat: FfiCatalog): FfiCatalog = withEventId(withPlotId(cat))
}
