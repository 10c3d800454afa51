package graft.etl

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSpec
import graft.sinks.{JdbcConstraints, MergeJdbc}
import org.apache.spark.sql.functions._

/** End-to-end golden-fixture run of the FFI pipeline: XML extract →
  * ident derivation → EAV pivots → event/project enrichment → rename
  * mapping → idempotent MERGE load into embedded Derby.
  *
  * The fixture (see FIXTURES.md §A) plants one of each semantic edge:
  * keep-first plot dedup, orphaned sample event, EAV duplicate rows,
  * StemNum repetition, species GUID lookup, team-parse delimiters with
  * EntryTeam fallback, the VisitID when-ladder, unit-system single-system
  * collapse, and FK-ordered loading.
  */
class FfiPipelineSpec extends SparkSpec {

  /** What one export of the fixture may cost from FfiIdents through
    * `loadAll` into Derby (measured in a cold JVM: 0 jobs, 0 classes;
    * filters over local tables are interpreted driver operators, where
    * Catalyst compiled a predicate class for each, and the team-list UDF
    * converts without encoder classes). Classes are counted
    * JVM-wide and Spark caches them by code, so a JVM that ran the
    * pipeline before compiles fewer.
    */
  private val JobBudget = 0
  private val ClassBudget = 0

  private lazy val transformed: FfiCatalog = {
    val dir = Files.createTempDirectory("ffi_fixture")
    val xml = dir.resolve("export.xml")
    Files.writeString(xml, FfiFixture.Xml)
    val cat = FfiExtract.extract(spark, xml.toString)
    FfiTransform(FfiIdents(cat))
  }

  test("one export runs within its Spark job and generated-class budgets") {
    // extraction is local rows (no job); everything after it is counted
    val xml = Files.createTempDirectory("ffi_jobs").resolve("export.xml")
    Files.writeString(xml, FfiFixture.Xml)
    val cat = FfiExtract.extract(spark, xml.toString)
    val url = "jdbc:derby:memory:ffibudgetdb;create=true"
    val cons = FfiFixture.createSchema(url)
    val (results, log) = graft.Bench.logged(spark) {
      val frames = FfiPipeline.outputFrames(FfiTransform(FfiIdents(cat)), FfiFixture.mapping, cons)
      MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby)
    }
    assert(results.size === 10 && results.forall(!_.failed), results.mkString("; "))
    val cost = s"the export ran ${log.jobs.size} jobs and compiled ${log.codegenClasses} classes"
    assert(log.jobs.size <= JobBudget, cost)
    assert(log.codegenClasses <= ClassBudget, cost)
  }

  test("adminUnit reads the first registration unit without a Spark job") {
    val xml = Files.createTempDirectory("ffi_admin").resolve("export.xml")
    Files.writeString(xml, FfiFixture.Xml)
    val cat = FfiExtract.extract(spark, xml.toString)
    val (admin, log) = graft.Bench.logged(spark)(FfiTransform.adminUnit(cat))
    assert(admin === "Big Park Unit")
    assert(log.jobs.isEmpty)
    // an export without registration units fails, like the reference's iloc[0]
    val none = cat.updated("RegistrationUnit", cat("RegistrationUnit").limit(0))
    intercept[NoSuchElementException](FfiTransform.adminUnit(none))
  }

  test("PlotID derivation + keep-first dedup") {
    val plots = transformed("MacroPlot")
      .select("MacroPlot_GUID", "PlotID").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plots === Map("MP-1" -> "BIGPAPLOT01", "MP-2" -> "BIGPAPLOT02"))
  }

  test("EventID derivation drops orphaned events") {
    val events = transformed("SampleEvent").select("SampleEvent_GUID", "EventID")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(events === Map(
      "SE-1" -> "BIGPAPLOT0120210607",
      "SE-2" -> "BIGPAPLOT0220210608"))
  }

  test("EAV attribute pivot: species join + StemNum + EAV dup collapse") {
    val trees = transformed("Trees_Individuals_Attribute")
      .select("AttributeData_DataRow_GUID", "TagNo", "DBH", "Species", "StemNum")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3), r.getString(4))))
      .toMap
    assert(trees === Map(
      "DR-1" -> (("100", "10.5", "PIPO", "1")),
      "DR-2" -> (("100", "12.0", "PIPO", "2")),
      "DR-3" -> (("200", null, "PIPO", "1"))))
  }

  test("Transect derives from the fine-fuels attribute table") {
    val t = transformed("Transect").collect()
    assert(t.length === 1)
    val r = transformed("Transect")
      .select("EventID", "Transect", "Azimuth", "Slope", "Length").head()
    assert(r.toSeq === Seq("BIGPAPLOT0120210607", "1", "90", "5", "75"))
  }

  test("unit-system split fans the fine-fuels method into per-system tables (V3)") {
    // "Surface Fuels - Fine" appears in English (m-2) and Metric (m-3):
    // English keeps the bare name, Metric gets the infix, and the
    // attribute path keeps Method_UnitSystem on split tables
    assert(transformed.contains("SurfaceFuels_Fine_Attribute"))
    assert(transformed.contains("SurfaceFuels_Fine_Metric_Attribute"))
    val eng = transformed("SurfaceFuels_Fine_Attribute")
    val met = transformed("SurfaceFuels_Fine_Metric_Attribute")
    assert(eng.columns.contains("Method_UnitSystem"))
    assert(eng.select("EventID").head().getString(0) === "BIGPAPLOT0120210607")
    assert(met.select("EventID", "Transect", "Azimuth").head().toSeq ===
      Seq("BIGPAPLOT0220210608", "2", "180"))
    // sample path: Metric sample table exists, and it is NOT a team source
    assert(transformed.contains("SurfaceFuels_Fine_Metric_Sample"))
    val se2 = transformed("SampleEvent")
      .filter(col("SampleEvent_GUID") === "SE-2").select("FuelsObserver").head()
    assert(se2.getString(0) === "") // metric team never merges (reference joins fixed names)
  }

  test("team merge: delimiters, set-union, EntryTeam fallback") {
    val se = transformed("SampleEvent")
      .filter(col("SampleEvent_GUID") === "SE-1")
      .select("FuelsObserver", "FuelsRecorder", "TreeObserver", "TreeRecorder")
      .head()
    assert(se.getString(0) === "Alice, Bob") // FieldTeam 'Alice Bob' space-split
    assert(se.getString(1) === "Alice") // EntryTeam present
    assert(se.getString(2) === "Carol, Dave") // 'Carol/Dave' slash-split
    assert(se.getString(3) === "Carol, Dave") // EntryTeam absent -> FieldTeam
  }

  test("VisitID when-ladder lands on SampleEvent and ProjectVisit") {
    val visits = transformed("SampleEvent").select("SampleEvent_GUID", "VisitID")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(visits("SE-1") === "FireProjectA202101FireImm")
    assert(visits("SE-2") === "FireProjectA202102")
    assert(transformed.contains("ProjectVisit"))
  }

  test("sample pivot carries a fresh uppercase GUID per row") {
    val s = transformed("Trees_Individuals_Sample")
      .select("SampleData_SampleRow_GUID", "FieldTeam", "SampleData_Original_GUID")
      .collect()
    assert(s.length === 1)
    assert(s(0).getString(0) === "SRG-1")
    assert(s(0).getString(1) === "Carol/Dave")
    assert(s(0).getString(2).matches("[0-9A-F-]{36}"))
  }

  test("archive-on-success moves clean files only (S12)") {
    val dir = Files.createTempDirectory("ffi_archive")
    val f = dir.resolve("export.xml")
    Files.writeString(f, "<x/>")
    assert(Archive.archiveIfClean(f, Seq("SomeTable")) === None)
    assert(Files.exists(f))
    val moved = Archive.archiveIfClean(f, Nil)
    assert(moved.exists(Files.exists(_)))
    assert(!Files.exists(f))
    assert(moved.get.getParent.getFileName.toString === "processed")
  }

  test("Mapping.fromCsv reads whitespace-padded rename maps (S5)") {
    val dir = Files.createTempDirectory("ffi_maps")
    Files.writeString(dir.resolve("TableMap.csv"),
      "FFITable,NewTable\nMacroPlot , Plot\nSampleEvent,Event\n")
    Files.writeString(dir.resolve("FieldMap.csv"),
      "TableName,ColumnName,OldColumn\nPlot, PlotID , PlotID\nPlot,PlotName,MacroPlot_Name\nPlot,OnlyInDb,\n")
    val m = Mapping.fromCsv(
      spark, dir.resolve("TableMap.csv").toString, dir.resolve("FieldMap.csv").toString)
    assert(m.tableMap("MacroPlot") === "Plot")
    val projected = m.project("Plot", transformed("MacroPlot"))
    assert(projected.columns.toSeq === Seq("PlotID", "PlotName"))
  }

  test("mapped tables MERGE-load into Derby idempotently, FK-ordered") {
    val url = "jdbc:derby:memory:ffidb;create=true"
    val c0 = DriverManager.getConnection(url)
    try {
      val st = c0.createStatement()
      for (t <- Seq("UPDATELOG", "EVENT", "PLOT"))
        try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
      st.execute("""CREATE TABLE Plot (
                   |  PlotID VARCHAR(64) PRIMARY KEY, PlotName VARCHAR(64),
                   |  AdminUnit VARCHAR(64))""".stripMargin)
      st.execute("""CREATE TABLE Event (
                   |  EventID VARCHAR(64) PRIMARY KEY,
                   |  PlotID VARCHAR(64) REFERENCES Plot (PlotID),
                   |  VisitID VARCHAR(64), FuelsObserver VARCHAR(128))""".stripMargin)
    } finally c0.close()

    val mapping = Mapping(
      tableMap = Map("MacroPlot" -> "Plot", "SampleEvent" -> "Event"),
      fieldMap = Map(
        "Plot" -> Seq(
          ("PlotID", "PlotID"), ("PlotName", "MacroPlot_Name"), ("AdminUnit", "AdminUnit")),
        "Event" -> Seq(
          ("EventID", "EventID"), ("PlotID", "PlotID"),
          ("VisitID", "VisitID"), ("FuelsObserver", "FuelsObserver"))))

    val frames = Map(
      "PLOT" -> mapping.project("Plot", transformed("MacroPlot")),
      "EVENT" -> mapping.project("Event", transformed("SampleEvent")))
    val cons = {
      val c = DriverManager.getConnection(url)
      try JdbcConstraints.reflect(c) finally c.close()
    }
    val first = MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby)
    assert(first.forall(!_.failed), first.filter(_.failed).mkString("; "))
    assert(first.map(r => r.table -> r.inserted).toMap === Map("PLOT" -> 2L, "EVENT" -> 2L))
    val again = MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby)
    assert(again.forall(r => !r.failed && r.inserted === 0L))
  }
}
