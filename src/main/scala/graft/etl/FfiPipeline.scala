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
  * One export runs on the driver, start to end: extraction parses the
  * file once into local rows, one table per tag ([[FfiExtract]]); idents
  * and transform join, window, group and derive over those local tables
  * with driver operators and folded Catalyst expressions ([[FfiCatalog]]);
  * and the load stages each output table's rows from the driver and
  * MERGEs them one table at a time in FK order ([[MergeJdbc.loadAll]]).
  * No plan of the export runs as a Spark job, and
  * nothing is cached, so an export leaves no Spark state behind however
  * it ends, and calling the stages one by one (as a tracer does) is the
  * same as [[runFile]]. An export's intermediates are held on the driver
  * like its extracted rows. [[runDirectory]] runs the exports one after
  * another on that driver, in file-name order, so the cluster's
  * executors take no part in a backlog; its cost is the sum of the
  * exports' driver time.
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
    val frames = outputFrames(FfiTransform(FfiIdents(extracted)), mapping, constraints)
    val results = MergeJdbc.loadAll(frames, constraints, url, dialect, props = props)
    val failed = results.filter(_.failed).map(_.table)
    FileResult(xmlFile, results, Archive.archiveIfClean(xmlFile, failed))
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
}
