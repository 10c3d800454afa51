package graft.etl

import graft.functions.Personnel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `_process_events` (`/root/reference/parser/xml.py:369-508`): enrich
  * SampleEvent with plot columns and the four merged personnel-team
  * columns drawn from seven per-method `_Sample` tables.
  *
  * The reference stages FieldTeam/EntryTeam copies under per-method names
  * purely to dodge pandas merge suffixes, then runs an 8-way left-join
  * keeping every column. Here each right side is pruned to
  * (join key, field team, entry team) under unambiguous names — same
  * loaded output, no _x/_y junk. The eight joins are driver joins of
  * local tables ([[FfiCatalog.leftJoin]]) and the team merges fold into
  * the result while optimizing, so the enriched SampleEvent is a local
  * table built without a Spark job.
  */
object FfiEvents {

  /** sample table key → (prefix, entry-team falls back to FieldTeam when
    * EntryTeam is absent — the reference try/except, applied to the three
    * tree tables; fuels tables instead surface a null column).
    */
  val TeamSources: Seq[(String, String, Boolean)] = Seq(
    ("SurfaceFuels_Duff_Litter_Sample", "Duff", false),
    ("SurfaceFuels_1000Hr_Sample", "Hr", false),
    ("SurfaceFuels_Fine_Sample", "Fine", false),
    ("SurfaceFuels_Vegetation_Sample", "Veg", false),
    ("Trees_Individuals_Sample", "Trees", true),
    ("Trees_Saplings_DiameterClass_Sample", "Sap", true),
    ("Trees_Seedlings_HeightClass_Sample", "Seed", true))

  private def teamSide(df: DataFrame, prefix: String, fallback: Boolean): DataFrame = {
    val hasEntry = df.columns.contains("EntryTeam")
    val hasField = df.columns.contains("FieldTeam")
    val field = if (hasField) col("FieldTeam") else lit(null).cast("string")
    val entry =
      if (hasEntry) col("EntryTeam")
      else if (fallback && hasField) col("FieldTeam")
      else lit(null).cast("string")
    df.select(
      col("SampleData_SampleEvent_GUID").as(s"_${prefix}_guid"),
      field.as(s"${prefix}FieldTeam"),
      entry.as(s"${prefix}EntryTeam"))
  }

  def apply(cat: FfiCatalog): FfiCatalog = {
    val plots = cat("MacroPlot")
    val plotSide =
      plots.select(col("MacroPlot_GUID").as("_mp_guid"), col("PlotID"), col("MacroPlot_Name"))
    val joined = TeamSources.foldLeft(FfiCatalog
      .leftJoin(cat("SampleEvent"), (plotSide, "SampleEvent_Plot_GUID", "_mp_guid"))
      .drop("_mp_guid")) { case (df, (table, prefix, fallback)) =>
      cat.get(table) match {
        case Some(side) =>
          val guid = s"_${prefix}_guid"
          FfiCatalog.leftJoin(df, (teamSide(side, prefix, fallback), "SampleEvent_GUID", guid))
            .drop(guid)
        case None =>
          df.withColumn(s"${prefix}FieldTeam", lit(null).cast("string"))
            .withColumn(s"${prefix}EntryTeam", lit(null).cast("string"))
      }
    }
    val enriched = joined
      .withColumn(
        "FuelsObserver",
        Personnel.combineTeams(Seq(
          col("DuffFieldTeam"), col("HrFieldTeam"), col("FineFieldTeam"), col("VegFieldTeam"))))
      .withColumn(
        "FuelsRecorder",
        Personnel.combineTeams(Seq(
          col("DuffEntryTeam"), col("HrEntryTeam"), col("FineEntryTeam"), col("VegEntryTeam"))))
      .withColumn(
        "TreeObserver",
        Personnel.combineTeams(Seq(
          col("TreesFieldTeam"), col("SapFieldTeam"), col("SeedFieldTeam"))))
      .withColumn(
        "TreeRecorder",
        Personnel.combineTeams(Seq(
          col("TreesEntryTeam"), col("SapEntryTeam"), col("SeedEntryTeam"))))
    cat.updated("SampleEvent", enriched)
  }
}
