package graft.etl

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSpec
import graft.sinks.MergeJdbc
import org.apache.spark.sql.graft.SparkInternals

/** E1 driver loop: directory batch → per-file load → archive-on-success,
  * then a second poll sees an empty directory.
  */
class FfiPipelineRunSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:ffirundb;create=true"

  /** Fresh Plot and Event tables; `plotNameWidth` below the fixture's
    * plot-name length makes the Plot load fail.
    */
  private def freshSchema(plotNameWidth: Int): Unit = {
    val c0 = DriverManager.getConnection(url)
    try {
      val st = c0.createStatement()
      for (t <- Seq("UPDATELOG", "EVENT", "PLOT"))
        try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE Plot (PlotID VARCHAR(64) PRIMARY KEY, PlotName VARCHAR($plotNameWidth))")
      st.execute("""CREATE TABLE Event (EventID VARCHAR(64) PRIMARY KEY,
                   |  PlotID VARCHAR(64) REFERENCES Plot (PlotID))""".stripMargin)
    } finally c0.close()
  }

  private val mapping = Mapping(
    tableMap = Map("MacroPlot" -> "Plot", "SampleEvent" -> "Event"),
    fieldMap = Map(
      "Plot" -> Seq(("PlotID", "PlotID"), ("PlotName", "MacroPlot_Name")),
      "Event" -> Seq(("EventID", "EventID"), ("PlotID", "PlotID"))))

  test("runDirectory loads every export and archives clean files") {
    freshSchema(plotNameWidth = 64)
    val dataDir = Files.createTempDirectory("ffi_run")
    Files.writeString(dataDir.resolve("export1.xml"), FfiFixture.Xml)

    val results = FfiPipeline.runDirectory(spark, dataDir, mapping, url, MergeJdbc.Derby)
    assert(results.size === 1)
    val fr = results.head
    assert(fr.failedTables.isEmpty, fr.tables.mkString("; "))
    assert(fr.tables.map(t => t.table -> t.inserted).toMap ===
      Map("PLOT" -> 2L, "EVENT" -> 2L))
    assert(fr.archived.isDefined)
    assert(!Files.exists(dataDir.resolve("export1.xml")))
    assert(Files.exists(dataDir.resolve("processed").resolve("export1.xml")))

    // second poll: nothing left to do
    assert(FfiPipeline.runDirectory(spark, dataDir, mapping, url, MergeJdbc.Derby).isEmpty)
  }

  test("runDirectory releases every cache it pinned, clean or failing") {
    val sc = spark.sparkContext
    for (width <- Seq(64, 2)) {
      freshSchema(width)
      val dataDir = Files.createTempDirectory("ffi_release")
      Files.writeString(dataDir.resolve("export1.xml"), FfiFixture.Xml)
      val rddsBefore = sc.getPersistentRDDs.keySet
      val entriesBefore = SparkInternals.cachedEntries(spark)
      val results = FfiPipeline.runDirectory(spark, dataDir, mapping, url, MergeJdbc.Derby)
      assert(results.head.failedTables.isEmpty === (width == 64), results.head.tables.mkString("; "))
      assert(sc.getPersistentRDDs.keySet.diff(rddsBefore).isEmpty)
      assert(SparkInternals.cachedEntries(spark) === entriesBefore)
    }
  }
}
