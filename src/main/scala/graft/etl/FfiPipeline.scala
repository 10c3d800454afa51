package graft.etl

import java.nio.file.{Files, Path}

import graft.sinks.{JdbcConstraints, MergeJdbc}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** E1: the file-batch driver loop (`/root/reference/xml_to_rdb.py:15-56`)
  * — glob `*.xml` under a data directory, run each export through
  * extract → idents → transform → rename mapping → FK-ordered MERGE
  * load, and archive the file iff every table loaded cleanly.
  *
  * One export's plan runs each piece once: the extracted tables, the two
  * EAV long frames and the enriched SampleEvent are pinned, so the actions
  * (the EAV fan-out's metadata collects and guards, SURVEY §7.4, and the
  * sinks) read them from memory instead of re-running their lineage.
  * [[runFile]] owns those caches and releases them when the export is
  * done, loaded or not. Many exports parallelize trivially — at
  * scale you run one `runFile` per export (or pass a glob to the XML
  * reads) and let the cluster schedule them.
  */
object FfiPipeline {

  final case class FileResult(
      file: Path,
      tables: Seq[MergeJdbc.TableResult],
      archived: Option[Path]) {
    def failedTables: Seq[String] = tables.filter(_.failed).map(_.table)
  }

  /** The mapped output frames of one transformed export, keyed by the
    * sink's reflected table names (case-insensitive match between the
    * mapping's target names and JDBC metadata).
    */
  def outputFrames(
      cat: FfiCatalog,
      mapping: Mapping,
      constraints: JdbcConstraints): Map[String, org.apache.spark.sql.DataFrame] = {
    val reflected = constraints.primaryKeys.keys.toSeq
    (for {
      (ffiTable, outTable) <- mapping.tableMap.toSeq
      if !FfiCatalog.Excluded(ffiTable)
      df <- cat.get(ffiTable)
      sinkName <- reflected.find(_.equalsIgnoreCase(outTable))
    } yield sinkName -> mapping.project(outTable, df)).toMap
  }

  /** Extract → transform → load → archive for one export file. */
  def runFile(
      spark: SparkSession,
      xmlFile: Path,
      mapping: Mapping,
      constraints: JdbcConstraints,
      url: String,
      dialect: MergeJdbc.Dialect,
      props: Map[String, String] = Map.empty): FileResult = {
    val extracted = FfiExtract.extract(spark, xmlFile.toString)
    try {
      val frames = outputFrames(FfiTransform(FfiIdents(extracted)), mapping, constraints)
      val results = MergeJdbc.loadAll(frames, constraints, url, dialect, props = props)
      val failed = results.filter(_.failed).map(_.table)
      FileResult(xmlFile, results, Archive.archiveIfClean(xmlFile, failed))
    } finally extracted.release()
  }

  /** The polling batch: every `*.xml` directly under `dataDir`, in name
    * order (deterministic), each loaded and archived-on-success.
    */
  def runDirectory(
      spark: SparkSession,
      dataDir: Path,
      mapping: Mapping,
      url: String,
      dialect: MergeJdbc.Dialect,
      props: Map[String, String] = Map.empty): Seq[FileResult] = {
    val files = Files.list(dataDir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".xml"))
      .toSeq.sortBy(_.getFileName.toString)
    if (files.isEmpty) Seq.empty
    else {
      val constraints = {
        val c = MergeJdbc.connect(url, props)
        try JdbcConstraints.reflect(c) finally c.close()
      }
      files.map(runFile(spark, _, mapping, constraints, url, dialect, props))
    }
  }

  /** The reference's end-to-end entry (`/root/reference/xml_to_rdb.py:22-34`
    * reads config.ini, builds the URL, connects, then loops the data dir):
    * same flow from an INI text — section → [[graft.engine.DbConfig]]
    * connection → dialect dispatch from the built URL → directory batch.
    * None when the section is missing or its dialect is unrecognized
    * (the reference's empty-URL case).
    */
  def runFromConfig(
      spark: SparkSession,
      iniText: String,
      section: String,
      dataDir: Path,
      mapping: Mapping): Option[Seq[FileResult]] =
    graft.engine.DbConfig.fromIni(iniText, section).map { c =>
      // DbConfig only ever builds these two forms; unknown dialects were
      // already None before this point
      val dialect =
        if (c.url.startsWith("jdbc:sqlserver")) MergeJdbc.SqlServer
        else MergeJdbc.Postgres
      import scala.jdk.CollectionConverters._
      val props = c.props.stringPropertyNames().asScala
        .map(k => k -> c.props.getProperty(k)).toMap
      runDirectory(spark, dataDir, mapping, c.url, dialect, props)
    }
}
