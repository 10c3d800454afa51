package graft

import java.nio.file.Files
import java.sql.DriverManager

import graft.etl.FfiFixture

/** The CLI's argument and config checks, which run before any session,
  * and its load from an INI section into embedded Derby.
  */
class MainSpec extends SparkSpec {

  test("Main refuses missing sections and unknown dialects (S4/F14)") {
    val dir = Files.createTempDirectory("main_cfg")
    val ini = dir.resolve("config.ini")
    Files.writeString(ini, "[Weird]\ntype = oracle\nserver = x\ndatabase = y\n")
    def refusal(args: String*): String =
      intercept[IllegalArgumentException](Main.main(args.toArray)).getMessage
    val maps = Seq(dir.resolve("TableMap.csv").toString, dir.resolve("FieldMap.csv").toString)
    assert(refusal(Seq(ini.toString, "NoSuch", dir.toString) ++ maps: _*)
      .contains("no [NoSuch] section"))
    val unknownType = refusal(Seq(ini.toString, "Weird", dir.toString) ++ maps: _*)
    assert(unknownType.contains("[Weird]") && unknownType.contains("names no known database"))
    assert(refusal(ini.toString, "Weird").contains("usage: Main"))
  }

  test("Main loads an export through a derby INI section and archives it") {
    val db = "memory:maindb;create=true"
    val c0 = DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val st = c0.createStatement()
      st.execute("CREATE TABLE Plot (PlotID VARCHAR(64) PRIMARY KEY, PlotName VARCHAR(64))")
      st.execute("""CREATE TABLE Event (EventID VARCHAR(64) PRIMARY KEY,
                   |  PlotID VARCHAR(64) REFERENCES Plot (PlotID))""".stripMargin)
    } finally c0.close()
    val dir = Files.createTempDirectory("main_run")
    val ini = dir.resolve("config.ini")
    Files.writeString(ini, s"[Local]\ntype = derby\ndatabase = $db\nuser = app\npassword = pw\n")
    Files.writeString(dir.resolve("TableMap.csv"),
      "FFITable,NewTable\nMacroPlot,Plot\nSampleEvent,Event\n")
    Files.writeString(dir.resolve("FieldMap.csv"),
      "TableName,ColumnName,OldColumn\nPlot,PlotID,PlotID\nPlot,PlotName,MacroPlot_Name\n" +
        "Event,EventID,EventID\nEvent,PlotID,PlotID\n")
    val data = Files.createDirectory(dir.resolve("data"))
    Files.writeString(data.resolve("export1.xml"), FfiFixture.Xml)

    val results = Main.checked(Array(ini.toString, "Local", data.toString,
      dir.resolve("TableMap.csv").toString, dir.resolve("FieldMap.csv").toString))(spark)
    assert(results.size === 1 && results.head.failedTables.isEmpty, results.mkString("; "))
    assert(results.head.tables.map(t => t.table -> t.inserted).toMap ===
      Map("PLOT" -> 2L, "EVENT" -> 2L))
    assert(!Files.exists(data.resolve("export1.xml")))
    assert(Files.exists(data.resolve("processed").resolve("export1.xml")))
    val c = DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM Event")
      rs.next()
      assert(rs.getLong(1) === 2L)
    } finally c.close()
  }
}
