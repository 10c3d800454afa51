package graft.etl

import org.apache.spark.sql.functions._

/** `transform()` orchestration (`/root/reference/parser/xml.py:718-746`):
  * EAV fan-out, ProjectID/AdminUnit enrichment, Transect derivation,
  * event/project processing, staging-table drop.
  *
  * Every table it returns is a local table on the driver: the joins,
  * windows, `distinct` and EAV groupings run as driver operators
  * ([[FfiCatalog]]) and the column derivations fold into them while
  * optimizing, so the transform runs no Spark job.
  * Nothing is cached, so the catalog needs no release.
  */
object FfiTransform {

  /** file-level admin unit: first RegistrationUnit_Name
    * (`parser/xml.py:716`). The extracted table is local rows in file
    * order, so its first row is the first registration unit and reading
    * it starts no Spark job; an empty table fails, as the reference's
    * `iloc[0]` does.
    */
  def adminUnit(cat: FfiCatalog): String =
    FfiCatalog.rows(cat("RegistrationUnit").select("RegistrationUnit_Name")).head.getString(0)

  def apply(cat0: FfiCatalog): FfiCatalog = {
    val admin = adminUnit(cat0)

    val cat1 = FfiEav.sampleToMany(FfiEav.attrToMany(cat0))

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
          FfiCatalog.distinct(fine.select("EventID", "Transect", "Azimuth", "Slope"))
            .withColumn("Length", lit(75).cast("string")))
      case None => cat2
    }

    val cat4 = FfiProjects(FfiEvents(cat3))

    // drop EAV staging tables (`parser/xml.py:741-744`)
    cat4.removed("SampleData", "SampleRow", "AttributeRow", "AttributeData")
  }
}
