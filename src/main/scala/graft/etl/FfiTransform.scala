package graft.etl

import org.apache.spark.sql.functions._

/** `transform()` orchestration (`/root/reference/parser/xml.py:718-746`):
  * EAV fan-out, ProjectID/AdminUnit enrichment, Transect derivation,
  * event/project processing, staging-table drop.
  */
object FfiTransform {

  /** file-level admin unit: first RegistrationUnit_Name
    * (`parser/xml.py:716`).
    */
  def adminUnit(cat: FfiCatalog): String =
    cat("RegistrationUnit")
      .select("RegistrationUnit_Name")
      .orderBy(FfiExtract.IngestId)
      .head()
      .getString(0)

  def apply(cat0: FfiCatalog, assertUniquePivot: Boolean = true): FfiCatalog = {
    val admin = adminUnit(cat0)

    val cat1 = FfiEav.sampleToMany(FfiEav.attrToMany(cat0, assertUniquePivot), assertUniquePivot)

    // ProjectID normalization + AdminUnit data-quality columns
    // (`parser/xml.py:721-731`)
    val cat2 = cat1
      .updated(
        "ProjectUnit",
        cat1("ProjectUnit")
          .withColumn("ProjectID", translate(col("ProjectUnit_Name"), "_ ", ""))
          .withColumn("AdminUnit", lit(admin)))
      .updated("MacroPlot", cat1("MacroPlot").withColumn("AdminUnit", lit(admin)))

    // Transect derivation A6 (`parser/xml.py:734-736`)
    val cat3 = cat2.get("SurfaceFuels_Fine_Attribute") match {
      case Some(fine) =>
        cat2.updated(
          "Transect",
          fine.select("EventID", "Transect", "Azimuth", "Slope")
            .distinct()
            .withColumn("Length", lit(75).cast("string")))
      case None => cat2
    }

    // loading SampleEvent and ProjectVisit reads the team-enriched
    // SampleEvent three times (directly and twice through VisitID): pin it
    // so its seven sample-table joins run once
    val events = FfiEvents(cat3)
    val cat4 = FfiProjects(events.updated("SampleEvent", events.pin(events("SampleEvent"))))

    // drop EAV staging tables (`parser/xml.py:741-744`)
    cat4.removed("SampleData", "SampleRow", "AttributeRow", "AttributeData")
  }
}
