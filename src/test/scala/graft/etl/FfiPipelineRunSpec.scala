package graft.etl

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSpec
import graft.sinks.MergeJdbc
import org.apache.spark.sql.graft.CacheEntries

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

  test("a malformed export stops runDirectory unarchived; earlier ones stay") {
    freshSchema(plotNameWidth = 64)
    val dataDir = Files.createTempDirectory("ffi_malformed")
    Files.writeString(dataDir.resolve("export1.xml"), FfiFixture.Xml)
    // a bare `&` is a fatal error for the StAX scan, as for the reference's ET.parse
    Files.writeString(dataDir.resolve("export2.xml"),
      """<FFIData>
        |  <MacroPlot><MacroPlot_GUID>bb</MacroPlot_GUID><MacroPlot_Name>two & broken</MacroPlot_Name></MacroPlot>
        |</FFIData>""".stripMargin)

    val err = intercept[javax.xml.stream.XMLStreamException](
      FfiPipeline.runDirectory(spark, dataDir, mapping, url, MergeJdbc.Derby))
    // the JDK StAX parser's own error, as scanning the file alone raises it
    val parseErr = intercept[javax.xml.stream.XMLStreamException](
      FfiExtract.scan(dataDir.resolve("export2.xml").toString))
    assert((err.getClass, err.getMessage) === ((parseErr.getClass, parseErr.getMessage)))
    val processed = dataDir.resolve("processed")
    assert(Files.exists(dataDir.resolve("export2.xml")))
    assert(!Files.exists(processed.resolve("export2.xml")))
    assert(!Files.exists(dataDir.resolve("export1.xml")))
    assert(Files.exists(processed.resolve("export1.xml")))
    val c = DriverManager.getConnection(url)
    try {
      def count(t: String) = {
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      }
      assert(count("Plot") === 2L && count("Event") === 2L)
    } finally c.close()
  }

  test("the pipeline's stages called one by one leave no cache behind") {
    // the calls runFile makes, made directly as a tracer makes them
    val sc = spark.sparkContext
    val url = "jdbc:derby:memory:ffistagesdb;create=true"
    val cons = FfiFixture.createSchema(url)
    val xml = Files.createTempDirectory("ffi_stages").resolve("export.xml")
    Files.writeString(xml, FfiFixture.Xml)
    val rddsBefore = sc.getPersistentRDDs.keySet
    val entriesBefore = CacheEntries(spark)
    val cat = FfiTransform(FfiIdents(FfiExtract.extract(spark, xml.toString)))
    val frames = FfiPipeline.outputFrames(cat, FfiFixture.mapping, cons)
    val results = MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby)
    assert(results.nonEmpty && results.forall(!_.failed), results.mkString("; "))
    assert(sc.getPersistentRDDs.keySet.diff(rddsBefore).isEmpty)
    assert(CacheEntries(spark) === entriesBefore)
  }

  test("runDirectory leaves no cache behind, clean or failing") {
    val sc = spark.sparkContext
    for (width <- Seq(64, 2)) {
      freshSchema(width)
      val dataDir = Files.createTempDirectory("ffi_release")
      Files.writeString(dataDir.resolve("export1.xml"), FfiFixture.Xml)
      val rddsBefore = sc.getPersistentRDDs.keySet
      val entriesBefore = CacheEntries(spark)
      val results = FfiPipeline.runDirectory(spark, dataDir, mapping, url, MergeJdbc.Derby)
      assert(results.head.failedTables.isEmpty === (width == 64), results.head.tables.mkString("; "))
      assert(sc.getPersistentRDDs.keySet.diff(rddsBefore).isEmpty)
      assert(CacheEntries(spark) === entriesBefore)
    }
  }
}
