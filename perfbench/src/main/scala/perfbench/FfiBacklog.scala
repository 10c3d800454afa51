package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.etl.Mapping

/** Seeded generator of one growing FFI database, written out as cumulative
  * snapshot exports (each snapshot holds every plot of the previous one
  * plus new ones), together with the relational target it loads into.
  *
  * Every export has the FIXTURES.md §A shape: all listed protocol methods
  * (fine fuels in both English and Metric units), witness trees, species
  * GUIDs, personnel strings with every delimiter, keep-first plot
  * duplicates, an orphaned event, and the value edge cases (lowercase GUIDs,
  * zone offsets with sub-millisecond digits, quotes, blanks and `nan`).
  * The generator also knows, per snapshot, how many rows each target table
  * must hold after the snapshot is loaded and how many rows it stages.
  */
object FfiBacklog {

  final case class Snapshot(file: Path, bytes: Long, expected: Map[String, Long]) {
    def staged: Long = expected.values.sum
  }

  /** FFI method → (attribute fields, target table, has EntryTeam). */
  private val Methods: Seq[(String, Seq[String], String, Boolean)] = Seq(
    ("Trees - Individuals", Seq("TagNo", "Spp", "DBH", "Ht", "Status"), "TreesIndv", false),
    ("Trees - Saplings (Diameter Class)", Seq("SizeCl", "Spp", "Count"), "TreesSaplings", true),
    ("Trees - Seedlings (Height Class)", Seq("SizeClHt", "Spp", "Count"), "TreesSeedlings", true),
    ("Surface Fuels - Fine", Seq("Transect", "Azimuth", "Slope", "OneHr", "TenHr", "HunHr"),
      "FuelsFine", true),
    ("Surface Fuels - Duff/Litter", Seq("Transect", "SampleLoc", "DuffDep", "LittDep"),
      "FuelsDuffLitter", true),
    ("Surface Fuels - 1000Hr", Seq("Transect", "LogNum", "Dia", "DecayCl"), "Fuels1000Hr", true),
    ("Surface Fuels - Vegetation", Seq("Transect", "Point", "LiveWoody", "Offset"),
      "FuelsVegetation", true),
    ("Plot Info Wit Trees Comments3", Seq("WitDBH", "WitDist", "WitAzi"), "WitnessTree", true))

  private val FineMetric = "FuelsFineMetric"
  private val WitnessMethod = "Plot Info Wit Trees Comments3"

  /** Catalog table the pipeline produces for a method (and unit system). */
  private def attrTable(method: String, metric: Boolean): String =
    graft.etl.FfiEav.tableName(method) + (if (metric) "_Metric" else "") + "_Attribute"

  private def methodCols(fields: Seq[String]): Seq[(String, String)] =
    Seq("DataRowGUID" -> "AttributeData_DataRow_GUID", "EventID" -> "EventID") ++
      fields.map {
        case "Spp" => "Species" -> "Species"
        case "Status" => "TreeStatus" -> "Status"
        case "Count" => "CountNum" -> "Count"
        case "Offset" => "OffsetFlag" -> "Offset"
        case f => f -> f
      } ++ Seq("StemNum" -> "StemNum")

  /** FFI catalog table → target table, and target column → catalog column. */
  val mapping: Mapping = {
    val methodTables = Methods.map { case (m, _, t, _) => attrTable(m, metric = false) -> t } :+
      (attrTable("Surface Fuels - Fine", metric = true) -> FineMetric)
    val methodFields = Methods.map { case (_, f, t, _) => t -> methodCols(f) } :+
      (FineMetric -> methodCols(Methods.find(_._3 == "FuelsFine").get._2))
    Mapping(
      tableMap = Map(
        "RegistrationUnit" -> "AdminUnit", "MacroPlot" -> "Plot", "SampleEvent" -> "Event",
        "ProjectUnit" -> "Project", "ProjectVisit" -> "ProjectVisit",
        "Transect" -> "Transect") ++ methodTables,
      fieldMap = Map(
        "AdminUnit" -> Seq("AdminUnit" -> "RegistrationUnit_Name",
          "AdminUnitGUID" -> "RegistrationUnit_GUID"),
        "Plot" -> Seq("PlotID" -> "PlotID", "PlotName" -> "MacroPlot_Name",
          "AdminUnit" -> "AdminUnit", "PlotGUID" -> "MacroPlot_GUID",
          "DateIn" -> "MacroPlot_DateIn", "Elevation" -> "MacroPlot_Elevation",
          "PlotComment" -> "MacroPlot_Comment", "PlotType" -> "MacroPlot_Type"),
        "Event" -> Seq("EventID" -> "EventID", "PlotID" -> "PlotID", "VisitID" -> "VisitID",
          "EventDate" -> "SampleEvent_Date", "EventComment" -> "SampleEvent_Comment",
          "Who" -> "SampleEvent_Who", "FuelsObserver" -> "FuelsObserver",
          "FuelsRecorder" -> "FuelsRecorder", "TreeObserver" -> "TreeObserver",
          "TreeRecorder" -> "TreeRecorder"),
        "Project" -> Seq("ProjectID" -> "ProjectID", "ProjectName" -> "ProjectUnit_Name",
          "Agency" -> "ProjectUnit_Agency", "ProjectComment" -> "ProjectUnit_Comment",
          "DateIn" -> "ProjectUnit_DateIn"),
        "ProjectVisit" -> Seq("VisitID" -> "VisitID", "ProjectID" -> "ProjectID",
          "VisitYear" -> "VisitYear", "StatusName" -> "MonitoringStatus_Name",
          "StatusBase" -> "MonitoringStatus_Base", "StatusSuffix" -> "MonitoringStatus_Suffix"),
        "Transect" -> Seq("EventID" -> "EventID", "Transect" -> "Transect",
          "Azimuth" -> "Azimuth", "Slope" -> "Slope", "TLength" -> "Length")) ++ methodFields)
  }

  /** Derby DDL of the target schema, parents before children. */
  val ddl: Seq[String] = {
    def v(n: Int) = s"VARCHAR($n)"
    def method(t: String, fields: Seq[String]) =
      s"CREATE TABLE $t (DataRowGUID ${v(64)} PRIMARY KEY, " +
        s"EventID ${v(64)} REFERENCES Event (EventID), " +
        methodCols(fields).drop(2).map(c => s"${c._1} ${v(64)}").mkString(", ") + ")"
    Seq(
      s"CREATE TABLE AdminUnit (AdminUnit ${v(64)} PRIMARY KEY, AdminUnitGUID ${v(64)})",
      s"""CREATE TABLE Plot (PlotID ${v(64)} PRIMARY KEY, PlotName ${v(64)},
         |  AdminUnit ${v(64)} REFERENCES AdminUnit (AdminUnit), PlotGUID ${v(64)},
         |  DateIn ${v(32)}, Elevation ${v(32)}, PlotComment ${v(128)}, PlotType ${v(32)})""".stripMargin,
      s"""CREATE TABLE Project (ProjectID ${v(64)} PRIMARY KEY, ProjectName ${v(64)},
         |  Agency ${v(64)}, ProjectComment ${v(128)}, DateIn ${v(32)})""".stripMargin,
      s"""CREATE TABLE ProjectVisit (VisitID ${v(96)} PRIMARY KEY,
         |  ProjectID ${v(64)} REFERENCES Project (ProjectID), VisitYear ${v(8)},
         |  StatusName ${v(64)}, StatusBase ${v(32)}, StatusSuffix ${v(32)})""".stripMargin,
      s"""CREATE TABLE Event (EventID ${v(64)} PRIMARY KEY,
         |  PlotID ${v(64)} REFERENCES Plot (PlotID),
         |  VisitID ${v(96)} REFERENCES ProjectVisit (VisitID), EventDate ${v(32)},
         |  EventComment ${v(128)}, Who ${v(64)}, FuelsObserver ${v(256)},
         |  FuelsRecorder ${v(256)}, TreeObserver ${v(256)}, TreeRecorder ${v(256)})""".stripMargin,
      s"""CREATE TABLE Transect (EventID ${v(64)} REFERENCES Event (EventID),
         |  Transect ${v(16)}, Azimuth ${v(16)}, Slope ${v(16)}, TLength ${v(16)},
         |  PRIMARY KEY (EventID, Transect))""".stripMargin) ++
      Methods.map { case (_, f, t, _) => method(t, f) } :+
      method(FineMetric, Methods.find(_._3 == "FuelsFine").get._2)
  }

  def sha256(file: Path): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(file))
      .map(b => f"$b%02x").mkString

  // ---------------------------------------------------------------- model

  private final case class DataRow(guid: String, values: Seq[String])
  private final case class MethodData(
      method: String, metric: Boolean, sampleGuid: String, field: String,
      entry: Option[String], rows: Seq[DataRow])
  private final case class Event(
      guid: String, plotGuid: String, date: String, comment: String,
      status: Option[(String, String, Option[String])], data: Seq[MethodData])
  private final case class Plot(guid: String, name: String, dateIn: String,
      comment: String, project: Int, dup: Option[String], events: Seq[Event],
      orphan: Option[Event])

  private val Teams =
    Seq("Alice, Bob", "Carol Dave", "Erin/Frank", "", "nan", "Gus", "Hana, Ivan/Jo")
  private val Comments =
    Seq("O'Neil's ridge", "  ", "nan", "", "burned 'hot' unit", "north slope", "re-read")

  private def guid(r: scala.util.Random): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString // lowercase

  private def stamp(r: scala.util.Random, year: Int, month: Int, day: Int): String = {
    val zone = Seq("-07:00", "-06:00", "+00:00", "Z")(r.nextInt(4))
    f"$year%04d-$month%02d-$day%02dT${8 + r.nextInt(4)}%02d:${r.nextInt(60)}%02d:" +
      f"${r.nextInt(60)}%02d.${r.nextInt(10000000)}%07d$zone"
  }

  private def plots(seed: Long, n: Int, species: Seq[String]): Seq[Plot] = {
    val r = new scala.util.Random(seed)
    def num(lo: Int, hi: Int) = (lo + r.nextInt(hi - lo + 1)).toString
    def methodData(method: String, fields: Seq[String], entry: Boolean, metric: Boolean,
        nRows: Int): MethodData = {
      val rows = (1 to nRows).map { i =>
        DataRow(guid(r), fields.map {
          case "Transect" => i.toString
          case "Spp" => species(r.nextInt(species.size))
          case "TagNo" => num(1, math.max(2, nRows / 2)) // repeats exercise StemNum
          case "Offset" => if (r.nextBoolean()) "True" else "False"
          case "Status" => Seq("L", "D", "nan", "")(r.nextInt(4))
          case "WitDBH" => s"${10 + i * 7}.${r.nextInt(10)}"
          case _ => s"${r.nextInt(400)}.${r.nextInt(10)}"
        })
      }
      MethodData(method, metric, guid(r), Teams(r.nextInt(Teams.size)),
        if (entry) Some(Teams(r.nextInt(Teams.size))) else None, rows)
    }
    (0 until n).map { p =>
      val pg = guid(r)
      val year = 2012 + r.nextInt(10)
      val nEvents = if (p == 0) 2 else 1 + r.nextInt(3)
      val events = (0 until nEvents).map { e =>
        // plot 0 carries both unit systems of the fine-fuels method so every
        // snapshot splits it into an English and a Metric table
        val metric = if (p == 0) e == 1 else r.nextInt(4) == 0
        val data = Methods.flatMap { case (m, fields, _, entry) =>
          val rows = m match {
            case "Trees - Individuals" => 4 + r.nextInt(12)
            case WitnessMethod => 2
            case "Surface Fuels - Fine" => 2 + r.nextInt(3)
            case _ => 1 + r.nextInt(4)
          }
          if (m == WitnessMethod && r.nextInt(3) == 0) None
          else Some(methodData(m, fields, entry, m == "Surface Fuels - Fine" && metric, rows))
        }
        val status =
          if (r.nextBoolean() || (p == 0 && e == 0))
            Some((Seq("Fire", "Pre", "Post")(r.nextInt(3)), f"${p * 4 + e}%05d",
              Seq(None, Some("Immediate"), Some("Year1"))(r.nextInt(3))))
          else None
        Event(guid(r), pg, stamp(r, year + e, 5 + e, 1 + r.nextInt(28)),
          Comments(r.nextInt(Comments.size)), status, data)
      }
      val orphan =
        if (p % 7 == 3) Some(Event(guid(r), guid(r), stamp(r, year, 6, 2), "orphan", None, Nil))
        else None
      Plot(pg, f"Plot $p%04d", stamp(r, year - 1, 3, 1 + r.nextInt(28)),
        Comments(r.nextInt(Comments.size)), p % 3,
        if (p % 10 == 4) Some(guid(r)) else None, events, orphan)
    }
  }

  // --------------------------------------------------------------- writer

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private final class Xml {
    val sb = new java.lang.StringBuilder(1 << 16)
    def row(tag: String, cols: (String, String)*): Unit = {
      sb.append("  <").append(tag).append(">\n")
      cols.foreach { case (k, v) =>
        sb.append("    <").append(k).append('>').append(esc(v)).append("</").append(k).append(">\n")
      }
      sb.append("  </").append(tag).append(">\n")
    }
  }

  private final case class World(species: Seq[String], plots: Seq[Plot],
      projects: Seq[String], ru: String, rng: scala.util.Random)

  /** The database of one seed, first `nPlots` plots (a prefix is the same
    * for every `nPlots`).
    */
  private def world(seed: Long, nPlots: Int): World = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    val species = Seq.fill(12)(guid(r))
    val model = plots(seed, nPlots, species)
    World(species, model, Seq.fill(3)(guid(r)), guid(r), r)
  }

  private val AdminName = "Big Park Unit"
  private def projectName(i: Int) = s"Fire Project_$i"

  /** Insert the target-table keys the pipeline derives from the first
    * `nPlots` plots (PlotID, EventID, VisitID, data-row GUIDs, ...): the
    * state a schema is in after that snapshot was loaded. MERGE only
    * inserts absent keys, so keys are all a later snapshot's load sees.
    */
  def seedKeys(conn: java.sql.Connection, seed: Long, nPlots: Int): Unit = {
    val w = world(seed, nPlots)
    def clean(s: String) = s.filterNot(" _-.".contains(_)).toUpperCase
    def projectId(i: Int) = projectName(i).filterNot("_ ".contains(_))
    val rows = scala.collection.mutable.LinkedHashMap[(String, Seq[String]), ArrayBuffer[Seq[String]]]()
    def add(table: String, cols: String*)(values: String*): Unit =
      rows.getOrElseUpdate((table, cols), ArrayBuffer()) += values
    add("AdminUnit", "AdminUnit")(AdminName)
    w.projects.indices.foreach(i => add("Project", "ProjectID")(projectId(i)))
    for (p <- w.plots) {
      val plotId = clean(AdminName).take(5) + clean(p.name)
      add("Plot", "PlotID", "AdminUnit")(plotId, AdminName)
      for (e <- p.events) {
        // stamps keep the UTC calendar date (08:00-11:59 at offsets <= 7 h)
        val eventId = plotId + e.date.take(10).replace("-", "")
        e.status.foreach { case (base, prefix, suffix) =>
          val visitId = projectId(p.project) + e.date.take(4) + prefix.trim +
            (if (base == "Fire") base else "") +
            suffix.map(s => if (s == "Immediate") s.take(3) else s.trim).getOrElse("")
          add("ProjectVisit", "VisitID", "ProjectID")(visitId, projectId(p.project))
        }
        add("Event", "EventID", "PlotID")(eventId, plotId)
        for (d <- e.data) {
          val table = if (d.metric) FineMetric else Methods.find(_._1 == d.method).get._3
          val kept = if (d.method == WitnessMethod) Seq(d.rows.minBy(_.values.head)) else d.rows
          kept.foreach(r => add(table, "DataRowGUID", "EventID")(r.guid.toUpperCase, eventId))
          if (d.method == "Surface Fuels - Fine" && !d.metric)
            d.rows.indices.foreach(i => add("Transect", "EventID", "Transect")(eventId, (i + 1).toString))
        }
      }
    }
    // parents before children: Event rows must follow their ProjectVisit
    val order = Seq("AdminUnit", "Project", "Plot", "ProjectVisit", "Event")
    rows.toSeq.sortBy { case ((t, _), _) => if (order.contains(t)) order.indexOf(t) else order.size }
      .foreach { case ((table, cols), values) =>
        val ps = conn.prepareStatement(
          s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})")
        try {
          values.foreach { v =>
            v.zipWithIndex.foreach { case (x, i) => ps.setString(i + 1, x) }
            ps.addBatch()
          }
          ps.executeBatch()
        } finally ps.close()
      }
  }

  /** Write the cumulative snapshot holding the first `nPlots` plots to
    * `dir/export.xml`.
    */
  def generate(dir: Path, seed: Long, nPlots: Int): Snapshot = {
    Files.createDirectories(dir)
    val World(speciesGuids, model, projectGuids, ruGuid, r) = world(seed, nPlots)
    // method GUID / attribute ids per (method, metric)
    val keys = Methods.map(m => (m._1, false)) :+ (("Surface Fuels - Fine", true))
    val methodGuid = keys.map(k => k -> guid(r)).toMap
    val attId = keys.zipWithIndex.flatMap { case (k @ (m, _), i) =>
      Methods.find(_._1 == m).get._2.zipWithIndex.map { case (f, j) => (k, f) -> (100 * i + j + 1) }
    }.toMap
    val sampleAttId = keys.zipWithIndex.flatMap { case (k, i) =>
      Seq((k, "FieldTeam") -> (5000 + 2 * i), (k, "EntryTeam") -> (5001 + 2 * i))
    }.toMap

    val x = new Xml
    x.sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<FFIData xmlns=\"http://ffi.example/v1\">\n")
    x.row("Schema_Version", "Schema_Version" -> "6.05")
    x.row("Settings", "Settings_Name" -> "units", "Settings_Value" -> "English")
    x.row("FuelConstants_DL", "FuelConstants_DL_Spp" -> "PIPO", "FuelConstants_DL_Value" -> "1.2")
    x.row("RegistrationUnit", "RegistrationUnit_GUID" -> ruGuid,
      "RegistrationUnit_Name" -> AdminName, "RegistrationUnit_Comment" -> "Ridge's unit")
    projectGuids.zipWithIndex.foreach { case (g, i) =>
      x.row("ProjectUnit", "ProjectUnit_GUID" -> g, "ProjectUnit_Name" -> projectName(i),
        "ProjectUnit_Agency" -> "NPS", "ProjectUnit_Comment" -> Comments(i),
        "ProjectUnit_DateIn" -> "2011-02-03T04:05:06.7891234-07:00")
    }
    speciesGuids.zipWithIndex.foreach { case (g, i) =>
      x.row("LocalSpecies", "LocalSpecies_GUID" -> g, "LocalSpecies_Symbol" -> f"SP$i%02d")
      x.row("MasterSpecies", "MasterSpecies_GUID" -> g, "MasterSpecies_Symbol" -> f"SP$i%02d")
    }
    keys.foreach { case key @ (m, metric) =>
      x.row("Method", "Method_GUID" -> methodGuid(key), "Method_Name" -> m,
        "Method_UnitSystem" -> (if (metric) "Metric" else "English"))
      Methods.find(_._1 == m).get._2.foreach { f =>
        x.row("MethodAttribute", "MethodAtt_ID" -> attId((key, f)).toString,
          "MethodAtt_Method_GUID" -> methodGuid(key), "MethodAtt_FieldName" -> f)
      }
      Seq("FieldTeam", "EntryTeam").foreach { f =>
        x.row("SampleAttribute", "SampleAtt_ID" -> sampleAttId((key, f)).toString,
          "SampleAtt_Method_GUID" -> methodGuid(key), "SampleAtt_FieldName" -> f)
      }
    }
    var sampleRowId = 0
    var attrRowId = 0
    var status = 0
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    model.take(nPlots).foreach { p =>
      x.row("MacroPlot", "MacroPlot_GUID" -> p.guid, "MacroPlot_Name" -> p.name,
        "MacroPlot_RegistrationUnit_GUID" -> ruGuid, "MacroPlot_DateIn" -> p.dateIn,
        "MacroPlot_Elevation" -> "2100", "MacroPlot_Comment" -> p.comment,
        "MacroPlot_Type" -> "FMH")
      p.dup.foreach { g =>
        // same PlotID, later DateIn: keep-first dedup drops it
        x.row("MacroPlot", "MacroPlot_GUID" -> g, "MacroPlot_Name" -> p.name,
          "MacroPlot_RegistrationUnit_GUID" -> ruGuid, "MacroPlot_DateIn" -> "2030-01-01T00:00:00")
      }
      x.row("MM_ProjectUnit_MacroPlot", "MM_ProjectUnit_GUID" -> projectGuids(p.project),
        "MM_MacroPlot_GUID" -> p.guid)
      counts("Plot") += 1
      (p.events ++ p.orphan).foreach { e =>
        x.row("SampleEvent", "SampleEvent_GUID" -> e.guid, "SampleEvent_Plot_GUID" -> e.plotGuid,
          "SampleEvent_Date" -> e.date, "SampleEvent_Comment" -> e.comment,
          "SampleEvent_Who" -> "Crew 'A'", "SampleEvent_DefaultMonitoringStatus" -> "Pre")
      }
      p.events.foreach { e =>
        counts("Event") += 1
        e.status.foreach { case (base, prefix, suffix) =>
          status += 1
          val sg = f"ms-${p.guid.take(8)}-$status%05d"
          x.row("MonitoringStatus", Seq(
            "MonitoringStatus_GUID" -> sg,
            "MonitoringStatus_ProjectUnit_GUID" -> projectGuids(p.project),
            "MonitoringStatus_Name" -> s"$prefix$base", "MonitoringStatus_Prefix" -> prefix,
            "MonitoringStatus_Base" -> base) ++
            suffix.map("MonitoringStatus_Suffix" -> _): _*)
          x.row("MM_MonitoringStatus_SampleEvent", "MM_MonitoringStatus_GUID" -> sg,
            "MM_SampleEvent_GUID" -> e.guid)
          counts("ProjectVisit") += 1
        }
        e.data.foreach { d =>
          val key = (d.method, d.metric)
          sampleRowId += 1
          x.row("SampleRow", "SampleRow_ID" -> sampleRowId.toString,
            "SampleRow_Original_GUID" -> d.sampleGuid)
          (Seq("FieldTeam" -> d.field) ++ d.entry.map("EntryTeam" -> _)).foreach { case (f, v) =>
            x.row("SampleData", "SampleData_SampleRow_ID" -> sampleRowId.toString,
              "SampleData_SampleEvent_GUID" -> e.guid,
              "SampleData_SampleAtt_ID" -> sampleAttId((key, f)).toString,
              "SampleData_Value" -> v)
          }
          val fields = Methods.find(_._1 == d.method).get._2
          d.rows.foreach { row =>
            attrRowId += 1
            x.row("AttributeRow", "AttributeRow_ID" -> attrRowId.toString,
              "AttributeRow_DataRow_GUID" -> row.guid, "AttributeRow_Original_GUID" -> row.guid)
            fields.zip(row.values).foreach { case (f, v) =>
              x.row("AttributeData", "AttributeData_DataRow_ID" -> attrRowId.toString,
                "AttributeData_MethodAtt_ID" -> attId((key, f)).toString,
                "AttributeData_SampleRow_ID" -> sampleRowId.toString,
                "AttributeData_Value" -> v)
            }
          }
          val table =
            if (d.metric) FineMetric else Methods.find(_._1 == d.method).get._3
          counts(table) += (if (d.method == WitnessMethod) 1 else d.rows.size)
          if (d.method == "Surface Fuels - Fine" && !d.metric) counts("Transect") += d.rows.size
        }
      }
    }
    x.sb.append("</FFIData>\n")
    val file = dir.resolve("export.xml")
    val bytes = x.sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(file, bytes)
    val expected = (counts.toMap ++ Map("AdminUnit" -> 1L, "Project" -> projectGuids.size.toLong))
      .map { case (t, n) => t.toUpperCase -> n }
    Snapshot(file, bytes.length.toLong, expected)
  }
}
