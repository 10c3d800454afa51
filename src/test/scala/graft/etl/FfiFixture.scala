package graft.etl

/** Shared golden FFI-export fixture (FIXTURES.md §A), with a mapping of
  * every loadable table it produces and the Derby schema that mapping
  * loads into.
  */
object FfiFixture {

  /** Every loadable table of the fixture, each target column named after
    * its source, so the mapped frames cover the catalog's mapped columns.
    * `Schema_Version` is mapped too, and never loaded ([[FfiCatalog.Excluded]]).
    */
  val mapping: Mapping = {
    def same(cols: String*): Seq[(String, String)] = cols.map(c => c -> c)
    val method = same("AttributeData_DataRow_GUID", "EventID")
    Mapping(
      tableMap = Map(
        "RegistrationUnit" -> "ADMINUNIT", "MacroPlot" -> "PLOT", "SampleEvent" -> "EVENT",
        "ProjectUnit" -> "PROJECT", "ProjectVisit" -> "PROJECTVISIT", "Transect" -> "TRANSECT",
        "Trees_Individuals_Attribute" -> "TREESINDV",
        "SurfaceFuels_Fine_Attribute" -> "FUELSFINE",
        "SurfaceFuels_Fine_Metric_Attribute" -> "FUELSFINEMETRIC",
        "Trees_Individuals_Sample" -> "TREESSAMPLE",
        "Schema_Version" -> "SCHEMAVERSION"),
      fieldMap = Map(
        "ADMINUNIT" -> same("RegistrationUnit_Name", "RegistrationUnit_GUID"),
        "PLOT" -> same("PlotID", "MacroPlot_Name", "AdminUnit", "MacroPlot_GUID",
          "MacroPlot_DateIn"),
        "EVENT" -> same("EventID", "PlotID", "VisitID", "SampleEvent_Date", "FuelsObserver",
          "FuelsRecorder", "TreeObserver", "TreeRecorder"),
        "PROJECT" -> same("ProjectID", "ProjectUnit_Name", "AdminUnit"),
        "PROJECTVISIT" -> same("VisitID", "ProjectID", "VisitYear", "MonitoringStatus_Name",
          "MonitoringStatus_Base", "MonitoringStatus_Suffix"),
        "TRANSECT" -> same("EventID", "Transect", "Azimuth", "Slope", "Length"),
        "TREESINDV" -> (method ++ same("TagNo", "Species", "DBH", "StemNum")),
        "FUELSFINE" -> (method ++ same("Transect", "Azimuth", "Slope", "Method_UnitSystem")),
        "FUELSFINEMETRIC" -> (method ++ same("Transect", "Azimuth", "Method_UnitSystem")),
        "TREESSAMPLE" -> (same("SampleData_SampleRow_GUID", "FieldTeam") :+
          ("OriginalGUID" -> "SampleData_Original_GUID")),
        "SCHEMAVERSION" -> same("Schema_Version")))
  }

  /** (Re)create [[mapping]]'s target tables in the Derby database at
    * `url`, empty, with their keys (parents before children), and return
    * the constraints reflected from them.
    */
  def createSchema(url: String): graft.sinks.JdbcConstraints = {
    def cols(names: String*) = names.map(n => s"$n VARCHAR(128)").mkString(", ")
    def method(t: String, fields: String*) =
      s"CREATE TABLE $t (AttributeData_DataRow_GUID VARCHAR(128) PRIMARY KEY, " +
        s"EventID VARCHAR(128) REFERENCES EVENT (EventID), ${cols(fields: _*)})"
    val ddl = Seq(
      s"CREATE TABLE ADMINUNIT (RegistrationUnit_Name VARCHAR(128) PRIMARY KEY, " +
        s"${cols("RegistrationUnit_GUID")})",
      s"CREATE TABLE PLOT (PlotID VARCHAR(128) PRIMARY KEY, " +
        s"${cols("MacroPlot_Name", "AdminUnit", "MacroPlot_GUID", "MacroPlot_DateIn")})",
      s"CREATE TABLE PROJECT (ProjectID VARCHAR(128) PRIMARY KEY, " +
        s"${cols("ProjectUnit_Name", "AdminUnit")})",
      s"CREATE TABLE PROJECTVISIT (VisitID VARCHAR(128) PRIMARY KEY, " +
        "ProjectID VARCHAR(128) REFERENCES PROJECT (ProjectID), " +
        s"${cols("VisitYear", "MonitoringStatus_Name", "MonitoringStatus_Base",
          "MonitoringStatus_Suffix")})",
      s"CREATE TABLE EVENT (EventID VARCHAR(128) PRIMARY KEY, " +
        "PlotID VARCHAR(128) REFERENCES PLOT (PlotID), " +
        "VisitID VARCHAR(128) REFERENCES PROJECTVISIT (VisitID), " +
        s"${cols("SampleEvent_Date", "FuelsObserver", "FuelsRecorder", "TreeObserver",
          "TreeRecorder")})",
      s"CREATE TABLE TRANSECT (EventID VARCHAR(128) REFERENCES EVENT (EventID), " +
        s"Transect VARCHAR(128), ${cols("Azimuth", "Slope", "Length")}, " +
        "PRIMARY KEY (EventID, Transect))",
      method("TREESINDV", "TagNo", "Species", "DBH", "StemNum"),
      method("FUELSFINE", "Transect", "Azimuth", "Slope", "Method_UnitSystem"),
      method("FUELSFINEMETRIC", "Transect", "Azimuth", "Method_UnitSystem"),
      s"CREATE TABLE TREESSAMPLE (SampleData_SampleRow_GUID VARCHAR(128) PRIMARY KEY, " +
        s"${cols("FieldTeam", "OriginalGUID")})")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      val tables = "UPDATELOG" +: ddl.reverse.map(_.split(" ")(2))
      for (t <- tables)
        try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
      ddl.foreach(st.execute)
      graft.sinks.JdbcConstraints.reflect(c)
    } finally c.close()
  }

  val Ns = "http://ffi.example/v1"

  val Xml: String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<FFIData xmlns="$Ns">
       |  <Schema_Version><Schema_Version>6.05</Schema_Version></Schema_Version>
       |  <RegistrationUnit>
       |    <RegistrationUnit_GUID>ru-1</RegistrationUnit_GUID>
       |    <RegistrationUnit_Name>Big Park Unit</RegistrationUnit_Name>
       |  </RegistrationUnit>
       |  <MacroPlot>
       |    <MacroPlot_GUID>mp-1</MacroPlot_GUID>
       |    <MacroPlot_Name>Plot 01</MacroPlot_Name>
       |    <MacroPlot_RegistrationUnit_GUID>ru-1</MacroPlot_RegistrationUnit_GUID>
       |    <MacroPlot_DateIn>2020-01-02T03:04:05</MacroPlot_DateIn>
       |  </MacroPlot>
       |  <MacroPlot>
       |    <MacroPlot_GUID>mp-1b</MacroPlot_GUID>
       |    <MacroPlot_Name>Plot 01</MacroPlot_Name>
       |    <MacroPlot_RegistrationUnit_GUID>ru-1</MacroPlot_RegistrationUnit_GUID>
       |    <MacroPlot_DateIn>2022-01-02T03:04:05</MacroPlot_DateIn>
       |  </MacroPlot>
       |  <MacroPlot>
       |    <MacroPlot_GUID>mp-2</MacroPlot_GUID>
       |    <MacroPlot_Name>Plot 02</MacroPlot_Name>
       |    <MacroPlot_RegistrationUnit_GUID>ru-1</MacroPlot_RegistrationUnit_GUID>
       |    <MacroPlot_DateIn>2021-05-06T00:00:00</MacroPlot_DateIn>
       |  </MacroPlot>
       |  <SampleEvent>
       |    <SampleEvent_GUID>se-1</SampleEvent_GUID>
       |    <SampleEvent_Plot_GUID>mp-1</SampleEvent_Plot_GUID>
       |    <SampleEvent_Date>2021-06-07T08:00:00</SampleEvent_Date>
       |  </SampleEvent>
       |  <SampleEvent>
       |    <SampleEvent_GUID>se-2</SampleEvent_GUID>
       |    <SampleEvent_Plot_GUID>mp-2</SampleEvent_Plot_GUID>
       |    <SampleEvent_Date>2021-06-08T08:00:00</SampleEvent_Date>
       |  </SampleEvent>
       |  <SampleEvent>
       |    <SampleEvent_GUID>se-3</SampleEvent_GUID>
       |    <SampleEvent_Plot_GUID>mp-404</SampleEvent_Plot_GUID>
       |    <SampleEvent_Date>2021-06-09T08:00:00</SampleEvent_Date>
       |  </SampleEvent>
       |  <ProjectUnit>
       |    <ProjectUnit_GUID>pu-1</ProjectUnit_GUID>
       |    <ProjectUnit_Name>Fire Project_A</ProjectUnit_Name>
       |  </ProjectUnit>
       |  <MonitoringStatus>
       |    <MonitoringStatus_GUID>ms-1</MonitoringStatus_GUID>
       |    <MonitoringStatus_ProjectUnit_GUID>pu-1</MonitoringStatus_ProjectUnit_GUID>
       |    <MonitoringStatus_Name>01Fire</MonitoringStatus_Name>
       |    <MonitoringStatus_Prefix>01</MonitoringStatus_Prefix>
       |    <MonitoringStatus_Base>Fire</MonitoringStatus_Base>
       |    <MonitoringStatus_Suffix>Immediate</MonitoringStatus_Suffix>
       |  </MonitoringStatus>
       |  <MonitoringStatus>
       |    <MonitoringStatus_GUID>ms-2</MonitoringStatus_GUID>
       |    <MonitoringStatus_ProjectUnit_GUID>pu-1</MonitoringStatus_ProjectUnit_GUID>
       |    <MonitoringStatus_Name>02Pre</MonitoringStatus_Name>
       |    <MonitoringStatus_Prefix>02</MonitoringStatus_Prefix>
       |    <MonitoringStatus_Base>Pre</MonitoringStatus_Base>
       |  </MonitoringStatus>
       |  <MM_MonitoringStatus_SampleEvent>
       |    <MM_MonitoringStatus_GUID>ms-1</MM_MonitoringStatus_GUID>
       |    <MM_SampleEvent_GUID>se-1</MM_SampleEvent_GUID>
       |  </MM_MonitoringStatus_SampleEvent>
       |  <MM_MonitoringStatus_SampleEvent>
       |    <MM_MonitoringStatus_GUID>ms-2</MM_MonitoringStatus_GUID>
       |    <MM_SampleEvent_GUID>se-2</MM_SampleEvent_GUID>
       |  </MM_MonitoringStatus_SampleEvent>
       |  <LocalSpecies>
       |    <LocalSpecies_GUID>aaaa-1</LocalSpecies_GUID>
       |    <LocalSpecies_Symbol>PIPO</LocalSpecies_Symbol>
       |  </LocalSpecies>
       |  <Method>
       |    <Method_GUID>m-1</Method_GUID>
       |    <Method_Name>Trees - Individuals</Method_Name>
       |    <Method_UnitSystem>English</Method_UnitSystem>
       |  </Method>
       |  <Method>
       |    <Method_GUID>m-2</Method_GUID>
       |    <Method_Name>Surface Fuels - Fine</Method_Name>
       |    <Method_UnitSystem>English</Method_UnitSystem>
       |  </Method>
       |  <MethodAttribute>
       |    <MethodAtt_ID>11</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-1</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>TagNo</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <MethodAttribute>
       |    <MethodAtt_ID>12</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-1</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>Spp</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <MethodAttribute>
       |    <MethodAtt_ID>13</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-1</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>DBH</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <Method>
       |    <Method_GUID>m-3</Method_GUID>
       |    <Method_Name>Surface Fuels - Fine</Method_Name>
       |    <Method_UnitSystem>Metric</Method_UnitSystem>
       |  </Method>
       |  <MethodAttribute>
       |    <MethodAtt_ID>24</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-3</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>Transect</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <MethodAttribute>
       |    <MethodAtt_ID>25</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-3</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>Azimuth</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <MethodAttribute>
       |    <MethodAtt_ID>21</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-2</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>Transect</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <MethodAttribute>
       |    <MethodAtt_ID>22</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-2</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>Azimuth</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <MethodAttribute>
       |    <MethodAtt_ID>23</MethodAtt_ID>
       |    <MethodAtt_Method_GUID>m-2</MethodAtt_Method_GUID>
       |    <MethodAtt_FieldName>Slope</MethodAtt_FieldName>
       |  </MethodAttribute>
       |  <SampleAttribute>
       |    <SampleAtt_ID>31</SampleAtt_ID>
       |    <SampleAtt_Method_GUID>m-1</SampleAtt_Method_GUID>
       |    <SampleAtt_FieldName>FieldTeam</SampleAtt_FieldName>
       |  </SampleAttribute>
       |  <SampleAttribute>
       |    <SampleAtt_ID>41</SampleAtt_ID>
       |    <SampleAtt_Method_GUID>m-2</SampleAtt_Method_GUID>
       |    <SampleAtt_FieldName>FieldTeam</SampleAtt_FieldName>
       |  </SampleAttribute>
       |  <SampleAttribute>
       |    <SampleAtt_ID>42</SampleAtt_ID>
       |    <SampleAtt_Method_GUID>m-2</SampleAtt_Method_GUID>
       |    <SampleAtt_FieldName>EntryTeam</SampleAtt_FieldName>
       |  </SampleAttribute>
       |  <SampleAttribute>
       |    <SampleAtt_ID>43</SampleAtt_ID>
       |    <SampleAtt_Method_GUID>m-3</SampleAtt_Method_GUID>
       |    <SampleAtt_FieldName>FieldTeam</SampleAtt_FieldName>
       |  </SampleAttribute>
       |  <SampleRow>
       |    <SampleRow_ID>53</SampleRow_ID>
       |    <SampleRow_Original_GUID>srg-3</SampleRow_Original_GUID>
       |  </SampleRow>
       |  <SampleData>
       |    <SampleData_SampleRow_ID>53</SampleData_SampleRow_ID>
       |    <SampleData_SampleEvent_GUID>se-2</SampleData_SampleEvent_GUID>
       |    <SampleData_SampleAtt_ID>43</SampleData_SampleAtt_ID>
       |    <SampleData_Value>Eve</SampleData_Value>
       |  </SampleData>
       |  <AttributeRow>
       |    <AttributeRow_ID>65</AttributeRow_ID>
       |    <AttributeRow_DataRow_GUID>dr-5</AttributeRow_DataRow_GUID>
       |  </AttributeRow>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>65</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>24</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>53</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>2</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>65</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>25</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>53</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>180</AttributeData_Value>
       |  </AttributeData>
       |  <SampleRow>
       |    <SampleRow_ID>51</SampleRow_ID>
       |    <SampleRow_Original_GUID>srg-1</SampleRow_Original_GUID>
       |  </SampleRow>
       |  <SampleRow>
       |    <SampleRow_ID>52</SampleRow_ID>
       |    <SampleRow_Original_GUID>srg-2</SampleRow_Original_GUID>
       |  </SampleRow>
       |  <SampleData>
       |    <SampleData_SampleRow_ID>51</SampleData_SampleRow_ID>
       |    <SampleData_SampleEvent_GUID>se-1</SampleData_SampleEvent_GUID>
       |    <SampleData_SampleAtt_ID>31</SampleData_SampleAtt_ID>
       |    <SampleData_Value>Carol/Dave</SampleData_Value>
       |  </SampleData>
       |  <SampleData>
       |    <SampleData_SampleRow_ID>52</SampleData_SampleRow_ID>
       |    <SampleData_SampleEvent_GUID>se-1</SampleData_SampleEvent_GUID>
       |    <SampleData_SampleAtt_ID>41</SampleData_SampleAtt_ID>
       |    <SampleData_Value>Alice Bob</SampleData_Value>
       |  </SampleData>
       |  <SampleData>
       |    <SampleData_SampleRow_ID>52</SampleData_SampleRow_ID>
       |    <SampleData_SampleEvent_GUID>se-1</SampleData_SampleEvent_GUID>
       |    <SampleData_SampleAtt_ID>42</SampleData_SampleAtt_ID>
       |    <SampleData_Value>Alice</SampleData_Value>
       |  </SampleData>
       |  <AttributeRow>
       |    <AttributeRow_ID>61</AttributeRow_ID>
       |    <AttributeRow_DataRow_GUID>dr-1</AttributeRow_DataRow_GUID>
       |  </AttributeRow>
       |  <AttributeRow>
       |    <AttributeRow_ID>62</AttributeRow_ID>
       |    <AttributeRow_DataRow_GUID>dr-2</AttributeRow_DataRow_GUID>
       |  </AttributeRow>
       |  <AttributeRow>
       |    <AttributeRow_ID>63</AttributeRow_ID>
       |    <AttributeRow_DataRow_GUID>dr-3</AttributeRow_DataRow_GUID>
       |  </AttributeRow>
       |  <AttributeRow>
       |    <AttributeRow_ID>64</AttributeRow_ID>
       |    <AttributeRow_DataRow_GUID>dr-4</AttributeRow_DataRow_GUID>
       |  </AttributeRow>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>61</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>11</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>100</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>61</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>12</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>aaaa-1</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>61</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>13</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>10.5</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>62</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>11</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>100</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>62</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>12</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>aaaa-1</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>62</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>13</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>12.0</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>63</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>11</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>200</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>63</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>12</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>51</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>aaaa-1</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>64</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>21</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>52</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>1</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>64</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>22</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>52</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>90</AttributeData_Value>
       |  </AttributeData>
       |  <AttributeData>
       |    <AttributeData_DataRow_ID>64</AttributeData_DataRow_ID>
       |    <AttributeData_MethodAtt_ID>23</AttributeData_MethodAtt_ID>
       |    <AttributeData_SampleRow_ID>52</AttributeData_SampleRow_ID>
       |    <AttributeData_Value>5</AttributeData_Value>
       |  </AttributeData>
       |</FFIData>
       |""".stripMargin
}
