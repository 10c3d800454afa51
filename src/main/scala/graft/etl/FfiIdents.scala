package graft.etl

import graft.etl.FfiExtract.IngestId
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PlotID / EventID derivation — `_parse_idents`
  * (`/root/reference/parser/xml.py:126-195`).
  *
  * The reference computes both ids with O(n·m) row-loop lookups; here they
  * are broadcast hash joins + native expressions (SURVEY.md J6/J7, F2–F4).
  * Each stage runs its join and keep-first window once and holds the
  * result as a driver-local table ([[FfiCatalog.local]]): MacroPlot and
  * SampleEvent are read by idents, the EAV assembly, the event enrichment
  * and the load, and each of those starts from the local rows.
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
    val planted = cat("MacroPlot")
      .join(broadcast(admin), col("MacroPlot_RegistrationUnit_GUID") === col("_ru_guid"), "left")
      .withColumn(
        "PlotID",
        concat(substring(col("_ru_clean"), 1, 5), cleanName(col("MacroPlot_Name"))))
      .drop("_ru_guid", "_ru_clean")
      .na.drop(Seq("MacroPlot_DateIn"))
    val w = Window.partitionBy("PlotID").orderBy(col("MacroPlot_DateIn"), col(IngestId))
    val deduped = planted
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    cat.updated("MacroPlot", FfiCatalog.local(deduped))
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
    val evented = cat("SampleEvent")
      .join(broadcast(plots), col("SampleEvent_Plot_GUID") === col("_mp_guid"), "left")
      .withColumn(
        "EventID",
        when(
          coalesce(col("_mp_plot_id"), lit("")) =!= "" && dateDigits =!= "",
          concat(col("_mp_plot_id"), dateDigits))
          .otherwise(lit("")))
      .drop("_mp_guid", "_mp_plot_id")
      .na.drop(Seq("EventID"))
      .filter(col("EventID") =!= "")
    val w = Window.partitionBy("EventID").orderBy(col(IngestId))
    val deduped = evented
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    cat.updated("SampleEvent", FfiCatalog.local(deduped))
  }

  def apply(cat: FfiCatalog): FfiCatalog = withEventId(withPlotId(cat))
}
