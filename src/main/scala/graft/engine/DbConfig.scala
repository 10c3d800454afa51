package graft.engine

import java.util.Properties

/** Config-file → database-connection builder: the reference surface
  * S4/F14 (`/root/reference/parser/functions.py:7-25` builds a SQLAlchemy
  * URL from config.ini parameters; `/root/reference/xml_to_rdb.py:22-28`
  * reads the section with configparser and hands the URL to the engine).
  *
  * Re-expressed for Spark: the parsed section becomes a JDBC url +
  * `java.util.Properties` pair — the exact arguments
  * `DataFrameReader.jdbc` / `DataFrameWriter.jdbc` and the MergeJdbc sink
  * take. Two deliberate departures from the reference, both
  * Spark-idiomatic:
  *   - credentials ride in the Properties, never interpolated into the
  *     URL (the reference's `user:pwd@server` form leaks secrets into
  *     logs and plan strings);
  *   - the dialect dispatch maps to JDBC URL forms
  *     (`jdbc:postgresql://host/db`, `jdbc:sqlserver://host;databaseName=db`)
  *     instead of SQLAlchemy's `dialect+driver://` prefix; the config's
  *     `driver` value passes through as the JDBC `driver` class property.
  *     One type the reference lacks: `derby` gives `jdbc:derby:<database>`
  *     (no server), the embedded target the specs and benchmark load.
  *
  * Like the reference, an unrecognized `type` yields no connection
  * (functions.py returns `""`); here that is `None`, not a sentinel
  * string.
  */
object DbConfig {

  final case class Conn(url: String, props: Properties)

  /** Minimal INI parse (the configparser subset the reference config
    * uses): `[Section]` headers, `key = value` / `key: value` pairs,
    * `;`/`#` comment lines, keys lowercased, values trimmed.
    */
  def parseIni(text: String): Map[String, Map[String, String]] = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, String]]
    var cur: Option[scala.collection.mutable.LinkedHashMap[String, String]] = None
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.isEmpty || line.startsWith(";") || line.startsWith("#")) ()
      else if (line.startsWith("[") && line.endsWith("]")) {
        val name = line.substring(1, line.length - 1).trim
        cur = Some(out.getOrElseUpdate(
          name, scala.collection.mutable.LinkedHashMap.empty))
      } else cur.foreach { m =>
        val i = line.indexWhere(c => c == '=' || c == ':')
        if (i > 0)
          m(line.take(i).trim.toLowerCase(java.util.Locale.ROOT)) =
            line.drop(i + 1).trim
      }
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** JDBC connection from one config section, mirroring the reference's
    * case-insensitive substring dispatch on `type`.
    */
  def fromSection(sec: Map[String, String]): Option[Conn] = {
    val typ = sec.getOrElse("type", "").toLowerCase(java.util.Locale.ROOT)
    val server = sec.getOrElse("server", "")
    val database = sec.getOrElse("database", "")
    val url =
      if (typ.contains("postgresql")) Some(s"jdbc:postgresql://$server/$database")
      else if (typ.contains("sqlserver"))
        Some(s"jdbc:sqlserver://$server;databaseName=$database")
      else if (typ.contains("derby")) Some(s"jdbc:derby:$database")
      else None
    url.map { u =>
      val p = new Properties()
      sec.get("user").foreach(p.setProperty("user", _))
      sec.get("password").foreach(p.setProperty("password", _))
      sec.get("driver").foreach(p.setProperty("driver", _))
      Conn(u, p)
    }
  }

  /** One-call path matching the reference's `create_url(**config[section])`. */
  def fromIni(text: String, section: String): Option[Conn] =
    parseIni(text).get(section).flatMap(fromSection)
}
