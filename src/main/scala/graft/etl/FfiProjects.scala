package graft.etl

import org.apache.spark.sql.functions._

/** `_process_projects` (`/root/reference/parser/xml.py:510-557`): assemble
  * the visit table (J4), derive VisitYear/VisitID (F6/F7), backjoin VisitID
  * onto SampleEvent (J5), and register ProjectVisit.
  *
  * VisitID ladder: ProjectID ++ year ++ trimmed prefix ++ ("Fire" base only
  * when Base == 'Fire') ++ suffix, where suffix 'Immediate' truncates to
  * 'Imm' and null becomes ''. Deviation: a null prefix contributes ''
  * (the reference's `str(nan)` would contribute the literal "nan" — a
  * pandas artifact, not intent).
  *
  * The four joins are driver joins of local tables
  * ([[FfiCatalog.leftJoin]]); the VisitID ladder folds into them while
  * optimizing, so no Spark job runs.
  */
object FfiProjects {

  def apply(cat: FfiCatalog): FfiCatalog = {
    val bridge = cat("MM_MonitoringStatus_SampleEvent")
      .select("MM_MonitoringStatus_GUID", "MM_SampleEvent_GUID")
    val events = cat("SampleEvent")
      .select(col("SampleEvent_GUID").as("_se_guid"), col("SampleEvent_Date"))
    val projects = cat("ProjectUnit")

    val visits = FfiCatalog
      .leftJoin(cat("MonitoringStatus"),
        (bridge, "MonitoringStatus_GUID", "MM_MonitoringStatus_GUID"),
        (events, "MM_SampleEvent_GUID", "_se_guid"),
        (projects, "MonitoringStatus_ProjectUnit_GUID", "ProjectUnit_GUID"))
      .drop("_se_guid")
      .withColumn("VisitYear", date_format(to_timestamp(col("SampleEvent_Date")), "yyyy"))
      .withColumn(
        "VisitID",
        concat(
          coalesce(col("ProjectID"), lit("")),
          coalesce(col("VisitYear"), lit("")),
          coalesce(trim(col("MonitoringStatus_Prefix")), lit("")),
          when(col("MonitoringStatus_Base") === "Fire", trim(col("MonitoringStatus_Base")))
            .otherwise(lit("")),
          when(col("MonitoringStatus_Suffix").isNull, lit(""))
            .when(col("MonitoringStatus_Suffix") === "Immediate",
              substring(col("MonitoringStatus_Suffix"), 1, 3))
            .otherwise(trim(col("MonitoringStatus_Suffix")))))

    val visitIds = visits.select(col("MM_SampleEvent_GUID").as("_v_guid"), col("VisitID"))
    val eventWithVisit = FfiCatalog
      .leftJoin(cat("SampleEvent"), (visitIds, "SampleEvent_GUID", "_v_guid"))
      .drop("_v_guid")

    cat
      .updated("SampleEvent", eventWithVisit)
      .updated("ProjectVisit", visits)
  }
}
