package graft

import java.nio.file.Paths

import graft.etl.{FfiPipeline, Mapping}
import graft.sinks.MergeJdbc

/** CLI driver: `Main <dataDir> <tableMap.csv> <fieldMap.csv> <jdbcUrl>`
  * — the reference's `xml_to_rdb.py` entry point. The MERGE dialect
  * follows the URL ([[MergeJdbc.Dialect.forUrl]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Main <dataDir> <tableMap.csv> <fieldMap.csv> <jdbcUrl>")
    val Array(dataDir, tableMapCsv, fieldMapCsv, url) = args
    val spark = graft.engine.Session.local()
    try {
      val mapping = Mapping.fromCsv(spark, tableMapCsv, fieldMapCsv)
      val results =
        FfiPipeline.runDirectory(spark, Paths.get(dataDir), mapping, url, MergeJdbc.Dialect.forUrl(url))
      results.foreach { fr =>
        val status = if (fr.failedTables.isEmpty) "OK" else s"FAILED ${fr.failedTables.mkString(",")}"
        println(s"[load] ${fr.file.getFileName}: $status " +
          fr.tables.map(t => s"${t.table}+${t.inserted}").mkString(" "))
      }
    } finally spark.stop()
  }
}
