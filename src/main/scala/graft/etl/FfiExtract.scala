package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** XML extraction: one FFI export document → a catalog of all-string
  * DataFrames, one per distinct root-child tag (= one per FFI table).
  *
  * Re-expresses the reference's `FFIFile._parse_data` (`parser/xml.py:101-124`)
  * in one driver-side StAX pass ([[scan]]): each direct child of the root
  * is one row of the table its tag names, and each of that row's direct
  * children is one column holding its trimmed text, every column
  * StringType like the reference's element-text extraction. Namespace
  * prefixes are stripped. [[extract]] turns each tag's rows into a local
  * DataFrame: no Spark job, no second parse, nothing cached.
  *
  * A malformed document (a bad entity, a mismatched tag) fails the scan
  * with an `XMLStreamException` before any table exists. The file is the
  * unit that fails: [[FfiPipeline.runDirectory]] stops at it and leaves
  * it unarchived, where the reference's `ET.parse` fails the same way
  * (`/root/reference/parser/xml.py:39`).
  *
  * Scale note: one FFI export is small (MBs) and is held on the driver
  * while its plan runs; the 100 TB path is MANY exports, one [[extract]]
  * per export file. `path` names one file: the scan opens it with a
  * `FileInputStream`, so a glob would throw.
  */
object FfiExtract {

  /** Ingest-order column threaded from extraction (pre-shuffle), needed to
    * reproduce pandas' file-order `cumcount`/keep-first semantics (§2.6 of
    * SURVEY.md; the XML has no sequence column).
    */
  val IngestId = "_ingest_id"

  /** One depth-1 tag and its rows in file order. A row maps each direct
    * child's local name to its own trimmed text (`""` when it has none):
    * attributes, text beside the children and anything nested below a
    * child are ignored, and a repeated child keeps its last occurrence,
    * as in the reference's per-row dict keyed by child tag.
    */
  final case class Tag(name: String, rows: Seq[Map[String, String]]) {

    /** The distinct child names of every row, sorted: the table's columns. */
    def columns: Seq[String] = rows.flatMap(_.keys).distinct.sorted
  }

  /** Every depth-1 tag in document order with its rows (driver-side
    * streaming pass; no DOM, no Spark job).
    */
  def scan(file: String): Seq[Tag] = {
    import javax.xml.stream.XMLStreamConstants._
    import scala.collection.mutable
    // the JDK's parser, not the classpath's first provider (Hadoop's Woodstox)
    val f = javax.xml.stream.XMLInputFactory.newDefaultFactory()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val in = new java.io.FileInputStream(file)
    try {
      val r = f.createXMLStreamReader(in)
      val tags = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Map[String, String]]]()
      var row = Map.empty[String, String]
      var child = ""
      val text = new StringBuilder
      var depth = 0
      while (r.hasNext) {
        r.next() match {
          case START_ELEMENT =>
            depth += 1
            if (depth == 2) row = Map.empty
            else if (depth == 3) { child = r.getLocalName; text.clear() }
          case CHARACTERS | CDATA | SPACE if depth == 3 =>
            text.append(r.getText)
          case END_ELEMENT =>
            if (depth == 3) row += child -> text.toString.trim
            else if (depth == 2) tags.getOrElseUpdate(r.getLocalName, mutable.ArrayBuffer()) += row
            depth -= 1
          case _ =>
        }
      }
      tags.toSeq.map { case (t, rows) => Tag(t, rows.toSeq) }
    } finally in.close()
  }

  /** One tag's table: its [[Tag.columns]] as strings, the
    * [[applyColumnRules]] normalization, and the file-order ingest id.
    */
  private def table(spark: SparkSession, tag: Tag): DataFrame = {
    val cols = tag.columns
    val schema = StructType(cols.map(StructField(_, StringType)) :+
      StructField(IngestId, LongType, nullable = false))
    val rows = tag.rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(cols.map(r.get(_).orNull) :+ i.toLong)
    }
    applyColumnRules(spark.createDataFrame(rows.asJava, schema))
  }

  /** The reference's per-column normalization heuristics
    * (`parser/xml.py:119-123`): GUID columns uppercased, Date/Time columns
    * run through convert_datetime.
    */
  def applyColumnRules(df: DataFrame): DataFrame = {
    val cols = df.columns.map {
      case c if c.contains("_GUID")                      => upper(col(c)).as(c)
      case c if c.contains("Date") || c.contains("Time") => normalizeDatetime(col(c)).as(c)
      case c                                             => col(c)
    }
    df.select(cols.toSeq: _*)
  }

  /** convert_datetime intent (`/root/reference/parser/functions.py:72-88`):
    * parse an ISO-ish timestamp, drop the zone offset, truncate to
    * milliseconds, render as `yyyy-MM-ddTHH:mm:ss.SSS`.
    *
    * Documented deviations from the reference: offsets are normalized to
    * UTC (the reference converts to the WORKSTATION-local zone — an
    * environment dependency, not a semantic); the trailing-zero-strip bug
    * (`sub(r'([1-9]{2,})0+$', ...)`) is not reproduced; unparseable values
    * pass through unchanged instead of raising.
    */
  def normalizeDatetime(c: Column): Column = {
    // SQL Server datetimeoffset carries 7 fractional digits; Spark's cast
    // takes at most 6 — pre-truncate to 3 (we format to millis anyway).
    val trimmed = regexp_replace(c, "(\\.\\d{3})\\d+", "$1")
    val ts = to_timestamp(trimmed)
    when(c.isNull, c)
      .when(ts.isNotNull, date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS"))
      .otherwise(c)
  }

  /** Whole-file extraction: every depth-1 tag becomes a catalog table,
    * built from the rows of one [[scan]]. Starts no Spark job and caches
    * nothing.
    */
  def extract(spark: SparkSession, path: String): FfiCatalog =
    FfiCatalog(scan(path).map(t => t.name -> table(spark, t)).toMap)
}
