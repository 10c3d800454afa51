package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** XML extraction: one FFI export document → a catalog of all-string
  * DataFrames, one per distinct root-child tag (= one per FFI table).
  *
  * Re-expresses `FFIFile._parse_data` (`/root/reference/parser/xml.py:101-124`)
  * on the Spark 4 built-in XML source: each table is
  * `spark.read.format("xml").option("rowTag", tag)` with inference off, so
  * every column is StringType exactly like the reference's element-text
  * extraction. Namespace prefixes are stripped by the source.
  *
  * Scale note: one FFI export is small (MBs), but the 100 TB path is MANY
  * exports — `path` accepts a glob and each rowTag read parallelizes over
  * files. Tag discovery streams only the first file (tag sets are
  * schema-stable across exports); pass `tags` explicitly to skip it.
  */
object FfiExtract {

  /** Ingest-order column threaded from extraction (pre-shuffle), needed to
    * reproduce pandas' file-order `cumcount`/keep-first semantics (§2.6 of
    * SURVEY.md; the XML has no sequence column).
    */
  val IngestId = "_ingest_id"

  /** Distinct depth-1 element names, in document order (driver-side
    * streaming pass; no DOM).
    */
  def tagNames(file: String): Seq[String] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val in = new java.io.FileInputStream(file)
    try {
      val r = f.createXMLStreamReader(in)
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      var depth = 0
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            depth += 1
            if (depth == 2) seen += r.getLocalName
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            depth -= 1
          case _ =>
        }
      }
      seen.toSeq
    } finally in.close()
  }

  /** One table: all rows with this rowTag, all columns StringType. */
  def readTable(spark: SparkSession, path: String, tag: String): DataFrame = {
    val raw = spark.read
      .format("xml")
      .option("rowTag", tag)
      .option("inferSchema", "false")
      .load(path)
    // inference off still leaves attribute/struct artifacts possible on
    // messy docs; flatten defensively to plain strings.
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
    val cols = clean.schema.fields.map {
      case f if f.dataType == StringType => col(f.name)
      case f                             => col(f.name).cast(StringType).as(f.name)
    }
    (applyColumnRules(clean.select(cols.toSeq: _*))
       .withColumn(IngestId, monotonically_increasing_id()),
     quarantined)
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
    * load reads it from memory; tags nothing reads are never parsed past
    * their schema. Release the returned catalog when the export is done.
    */
  def extract(
      spark: SparkSession,
      path: String,
      tags: Option[Seq[String]] = None): FfiCatalog = {
    val ts = tags.getOrElse(tagNames(path))
    val cat = FfiCatalog.empty
    try {
      cat.copy(tables = ts.map(t => t -> cat.pin(readTable(spark, path, t))).toMap)
    } catch {
      case e: Throwable =>
        cat.release()
        throw e
    }
  }
}
