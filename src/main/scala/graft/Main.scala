package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.engine.DbConfig
import graft.etl.{FfiPipeline, Mapping}
import graft.sinks.MergeJdbc
import org.apache.spark.sql.SparkSession

/** CLI driver, the reference's `xml_to_rdb.py`:
  * `Main <config.ini> <section> <dataDir> <tableMap.csv> <fieldMap.csv>`.
  *
  * Like the reference (`/root/reference/xml_to_rdb.py:22-34`), it reads
  * one `config.ini` section, builds the connection from it
  * ([[DbConfig]]: JDBC url, credentials as properties), and loads every
  * export in the data directory ([[FfiPipeline.runDirectory]]); the
  * MERGE dialect follows the URL ([[MergeJdbc.Dialect.forUrl]]). A
  * missing section, or a `type` that names no known database, fails a
  * `require` before a Spark session starts. A `type = derby` section
  * (`database = memory:ffi;create=true`, say) loads into embedded Derby.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val load = checked(args)
    val spark = graft.engine.Session.local()
    try load(spark) finally spark.stop()
  }

  /** The load `args` name, with the argument and config checks already
    * passed: given a session, it loads every export in the data
    * directory, prints one line per file and returns the results.
    */
  private[graft] def checked(args: Array[String]): SparkSession => Seq[FfiPipeline.FileResult] = {
    require(args.length == 5,
      "usage: Main <config.ini> <section> <dataDir> <tableMap.csv> <fieldMap.csv>")
    val Array(ini, section, dataDir, tableMapCsv, fieldMapCsv) = args
    val iniText = Files.readString(Paths.get(ini))
    require(DbConfig.parseIni(iniText).contains(section), s"no [$section] section in $ini")
    val found = DbConfig.fromIni(iniText, section)
    require(found.isDefined, s"the type of [$section] in $ini names no known database")
    val conn = found.get
    val props = conn.props.stringPropertyNames().asScala.map(k => k -> conn.props.getProperty(k)).toMap
    spark => {
      val mapping = Mapping.fromCsv(spark, tableMapCsv, fieldMapCsv)
      val results = FfiPipeline.runDirectory(spark, Paths.get(dataDir), mapping, conn.url,
        MergeJdbc.Dialect.forUrl(conn.url), props)
      results.foreach { fr =>
        val status = if (fr.failedTables.isEmpty) "OK" else s"FAILED ${fr.failedTables.mkString(",")}"
        println(s"[load] ${fr.file.getFileName}: $status " +
          fr.tables.map(t => s"${t.table}+${t.inserted}").mkString(" "))
      }
      results
    }
  }
}
