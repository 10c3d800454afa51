package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** XML extraction: one FFI export document → a catalog of all-string
  * DataFrames, one per distinct root-child tag (= one per FFI table).
  *
  * Re-expresses `FFIFile._parse_data` (`/root/reference/parser/xml.py:101-124`)
  * on the Spark 4 built-in XML source: each table is
  * `spark.read.format("xml").option("rowTag", tag)`, every column
  * StringType exactly like the reference's element-text extraction.
  * Namespace prefixes are stripped by the source.
  *
  * The schema comes from the driver's StAX [[scan]] of the file, which
  * records each tag's child-element names: a flat tag (every row a list
  * of attribute-free text children) reads with those names as an explicit
  * all-string schema, sorted like inference sorts them, so extraction
  * starts no Spark job. A tag with any non-flat row (attributes, nested
  * elements, repeated children, text beside children; see [[Tag]]) keeps
  * the source's schema inference (inference off, so leaves stay strings):
  * one job over the file, and the `_attr`, `_VALUE` and struct-as-string
  * columns that inference produces.
  *
  * Scale note: one FFI export is small (MBs), but the 100 TB path is MANY
  * exports, one [[extract]] per export file. `path` names one file: tag
  * discovery opens it with a `FileInputStream`, so a glob would throw.
  */
object FfiExtract {

  /** Ingest-order column threaded from extraction (pre-shuffle), needed to
    * reproduce pandas' file-order `cumcount`/keep-first semantics (§2.6 of
    * SURVEY.md; the XML has no sequence column).
    */
  val IngestId = "_ingest_id"

  /** One depth-1 tag as [[scan]] saw it in the whole file: its name and,
    * when every one of its rows is flat, its distinct child-element names
    * sorted by name (the column order schema inference produces).
    *
    * A row is flat when neither it nor any of its children carries an
    * attribute, no child repeats, nothing nests below a child and no text
    * sits beside the children. Inference turns those shapes into `_attr`,
    * `_VALUE`, struct and array columns that an all-string schema would
    * not reproduce, so such a tag has no `fields` and keeps the inference
    * read. So does a tag that also occurs inside another tag's rows: the
    * XML source reads every element with the row tag as a row, at any
    * depth, and the scan counts only the depth-1 ones.
    */
  final case class Tag(name: String, fields: Option[Seq[String]])

  /** Every depth-1 tag in document order, with the child names of its
    * rows (driver-side streaming pass; no DOM, no Spark job).
    */
  def scan(file: String): Seq[Tag] = {
    import javax.xml.stream.XMLStreamConstants._
    import scala.collection.mutable
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val in = new java.io.FileInputStream(file)
    try {
      val r = f.createXMLStreamReader(in)
      val children = mutable.LinkedHashMap[String, mutable.Set[String]]() // per tag
      val nonFlat = mutable.Set[String]() // tags with a non-flat row
      val nested = mutable.Set[String]() // names inside another tag's rows
      val rowChildren = mutable.Set[String]() // the current row's
      var row = ""
      var depth = 0
      while (r.hasNext) {
        r.next() match {
          case START_ELEMENT =>
            depth += 1
            val name = r.getLocalName
            if (depth == 2) {
              row = name
              children.getOrElseUpdate(row, mutable.Set[String]())
              rowChildren.clear()
              if (r.getAttributeCount > 0) nonFlat += row
            } else if (depth > 2) {
              if (name != row) nested += name
              if (depth > 3 || r.getAttributeCount > 0 || !rowChildren.add(name)) nonFlat += row
              else children(row) += name
            }
          case CHARACTERS | CDATA if depth == 2 && r.getText.trim.nonEmpty =>
            nonFlat += row
          case END_ELEMENT =>
            depth -= 1
          case _ =>
        }
      }
      children.toSeq.map { case (t, cs) =>
        Tag(t, if (nonFlat(t) || nested(t)) None else Some(cs.toSeq.sorted))
      }
    } finally in.close()
  }

  /** One table: all rows with this rowTag, all columns StringType. With
    * `fields` (a flat tag, see [[Tag]]) the read takes that schema and
    * starts no Spark job; without, the XML source infers the schema in a
    * job over the whole file.
    */
  def readTable(
      spark: SparkSession,
      path: String,
      tag: String,
      fields: Option[Seq[String]] = None): DataFrame = {
    val reader = spark.read.format("xml").option("rowTag", tag)
    normalize(fields match {
      case Some(fs) => reader.schema(StructType(fs.map(StructField(_, StringType)))).load(path)
      case None     => reader.option("inferSchema", "false").load(path)
    })
  }

  /** Every column flattened to a string (inference off still leaves
    * attribute/struct artifacts possible on messy docs), the
    * [[applyColumnRules]] normalization, and the ingest-order column.
    */
  private def normalize(raw: DataFrame): DataFrame = {
    val cols = raw.schema.fields.map {
      case f if f.dataType == StringType => col(f.name)
      case f                             => col(f.name).cast(StringType).as(f.name)
    }
    applyColumnRules(raw.select(cols.toSeq: _*))
      .withColumn(IngestId, monotonically_increasing_id())
  }

  /** Like [[readTable]] but malformed-row tolerant: PERMISSIVE parse with
    * a corrupt-record column, split into (clean, quarantined). One broken
    * export in a 100 TB backfill lands in the quarantine frame (the audit
    * artifact to re-extract from) instead of failing the job — the
    * reference's whole-DOM `ET.parse` dies on the first bad byte
    * (`/root/reference/parser/xml.py:39`).
    */
  def readTableTolerant(
      spark: SparkSession,
      path: String,
      tag: String,
      corruptCol: String = "_corrupt_record"): (DataFrame, DataFrame) = {
    val raw = spark.read
      .format("xml")
      .option("rowTag", tag)
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .load(path)
    // the corrupt column only exists if the source saw the option AND the
    // schema pass surfaced it; guard for the all-clean case
    val hasCorrupt = raw.columns.contains(corruptCol)
    val flagged =
      if (hasCorrupt) raw
      else raw.withColumn(corruptCol, lit(null).cast(StringType))
    val clean = flagged.filter(col(corruptCol).isNull).drop(corruptCol)
    // eager localCheckpoint: (a) quarantine is tiny by assumption, so
    // materializing costs one extra parse of this file only; (b) Spark
    // forbids lazy queries whose referenced columns reduce to the corrupt
    // column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the checkpoint
    // materializes full rows, making any downstream audit query legal.
    val quarantined = flagged.filter(col(corruptCol).isNotNull).localCheckpoint()
    (normalize(clean), quarantined)
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

  /** Whole-file extraction: every depth-1 tag becomes a catalog table.
    * Each table is pinned: the first action that reads it parses the XML
    * once into the cache, and every later action of the transform and the
    * load reads it from memory; tags nothing reads are never parsed (a
    * non-flat tag still pays its inference job here). Release the returned
    * catalog when the export is done.
    */
  def extract(spark: SparkSession, path: String): FfiCatalog = {
    val cat = FfiCatalog.empty
    try {
      cat.copy(tables = scan(path).map { t =>
        t.name -> cat.pin(readTable(spark, path, t.name, t.fields))
      }.toMap)
    } catch {
      case e: Throwable =>
        cat.release()
        throw e
    }
  }
}
